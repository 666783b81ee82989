"""Read the marts back and compare them with the pure-Python derivation.

``mart_state`` reduces the four written marts to the same per-day
structure ``r520.expected_marts`` builds, so a check is a dict compare.
It runs outside every timed window.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from r520 import SKU_BASE

DAY = "当稼動日"
SKU_MART = "t_day_pos_daily_sku_data"


def _read(spark, out_dir: str, name: str):
    path = os.path.join(out_dir, name)
    return spark.read.parquet(path) if os.path.isdir(path) else None


def mart_state(spark, out_dir: str) -> dict:
    """{day: marts} for every day partition present in the SKU mart or
    the derived marts; values are plain ints like ``expected_marts``."""
    state: dict = {}

    def day(d):
        return state.setdefault(
            d, {"sku_rows": 0, "sku_checksum": 0, "sku_qty": 0,
                "customers": {}, "sales": {}, "front": {}}
        )

    sku = _read(spark, out_dir, SKU_MART)
    if sku is not None:
        key = F.col("txn_id").cast("long") * 1000 + (
            F.col("sku").cast("long") - SKU_BASE
        )
        for r in sku.groupBy(DAY).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((key % 1_000_003) * F.col("unit_price").cast("long")).alias("c"),
            F.sum("quantity").alias("q"),
        ).collect():
            day(r[0]).update(sku_rows=r["n"], sku_checksum=int(r["c"]), sku_qty=int(r["q"]))
    cust = _read(spark, out_dir, "t_day_ten_kyakusu_data")
    if cust is not None:
        for r in cust.collect():
            day(r[DAY])["customers"][int(r["store_id"])] = int(r["customer_count"])
    sales = _read(spark, out_dir, "t_day_sales")
    if sales is not None:
        for r in sales.collect():
            day(r[DAY])["sales"][(int(r["store_id"]), int(r["dept_code"]))] = (
                int(r["sales_amount"]), int(r["discount_amount"]),
                int(r["quantity"]), int(r["txn_count"]),
            )
    front = _read(spark, out_dir, "t_day_ten_sales_front_data_daily")
    if front is not None:
        for r in front.collect():
            day(r[DAY])["front"][int(r["store_id"])] = (
                int(r["sales_amount"]), int(r["discount_amount"]),
                int(r["quantity"]), int(r["txn_count"]),
            )
    return state


SKU_FIELDS = ("sku_rows", "sku_checksum", "sku_qty")
DERIVED_FIELDS = ("customers", "sales", "front")


def diff(expected: dict, got: dict, fields) -> list[str]:
    """Names of the mismatching fields of one day."""
    return [f for f in fields if expected.get(f) != got.get(f)]

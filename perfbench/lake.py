"""Seeded raw NYC-TLC-shaped lake and the ``lake_pipeline`` stages.

Generator: one process, numpy + pyarrow, deterministic per seed. It
writes ``year=YYYY/month=MM/part-0.parquet`` partitions. Each month uses
one of the TLC column spellings the ETL synonym map accepts (FIXTURES.md
§1), in an order the seed permutes, and one spelling leaves the optional
columns out. Bad rows are injected at fixed rates: null timestamps,
non-positive distance or fare, dropoff not after pickup, and outliers a
thousand times the normal range.

Stages (the timed pass, in order), each calling only public functions:
``etl`` (``read_months`` + ``curate_trips`` + ``write_curated`` per
month, as ``cli etl --month`` does), ``train`` (``train_and_evaluate`` +
``save_model`` + metrics ``export_table``), ``score`` (``load_model`` +
``batch_score`` + partitioned write, as ``cli score``) and ``optimize``
(``compact_dataset``).
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

YEAR = 2023
MONTHS = ["01", "02"]
ROWS_PER_MONTH = 5_000
NULL_RATE = 0.01  # per timestamp column
NONPOS_RATE = 0.01  # per distance / fare column
BACKWARDS_RATE = 0.005  # dropoff at or before pickup
OUTLIER_RATE = 0.002  # per distance / fare column
OUTLIER_FACTOR = 1000.0
# Every outlier lies above these bounds and no valid trip does.
OUTLIER_DISTANCE = 100.0
OUTLIER_FARE = 1000.0

# Canonical column -> spelling, per variant. None drops the column.
SPELLINGS = [
    {  # yellow taxi files
        "vendor_id": "VendorID", "pickup_datetime": "tpep_pickup_datetime",
        "dropoff_datetime": "tpep_dropoff_datetime", "passenger_count": "passenger_count",
        "trip_distance": "trip_distance", "ratecode_id": "RatecodeID",
        "pu_location": "PULocationID", "do_location": "DOLocationID",
        "payment_type": "payment_type", "fare_amount": "fare_amount", "total_amount": "total_amount",
    },
    {  # green taxi files
        "vendor_id": "VendorID", "pickup_datetime": "lpep_pickup_datetime",
        "dropoff_datetime": "lpep_dropoff_datetime", "passenger_count": "passenger_count",
        "trip_distance": "trip_distance", "ratecode_id": "RatecodeID",
        "pu_location": "PULocationID", "do_location": "DOLocationID",
        "payment_type": "payment_type", "fare_amount": "fare_amount", "total_amount": "total_amount",
    },
    {  # lower-cased export
        "vendor_id": "vendorid", "pickup_datetime": "pickup_datetime",
        "dropoff_datetime": "dropoff_datetime", "passenger_count": "passenger_count",
        "trip_distance": "trip_distance", "ratecode_id": "ratecodeid",
        "pu_location": "pulocationid", "do_location": "dolocationid",
        "payment_type": "payment_type", "fare_amount": "fare_amount", "total_amount": "total_amount",
    },
    {  # snake-case export without the optional columns
        "vendor_id": "vendor_id", "pickup_datetime": "pickup_datetime",
        "dropoff_datetime": "dropoff_datetime", "passenger_count": None,
        "trip_distance": "trip_distance", "ratecode_id": None,
        "pu_location": "pu_location_id", "do_location": "do_location_id",
        "payment_type": None, "fare_amount": "fare_amount", "total_amount": None,
    },
]

# FIXTURES.md §1: the curated trips contract. Its "timestamp" admits both
# Spark timestamp types: raw TLC files carry zone-less timestamps, which
# Spark reads as timestamp_ntz.
CURATED_SCHEMA = {
    "pickup_datetime": "timestamp", "dropoff_datetime": "timestamp", "trip_distance": "double",
    "fare_amount": "double", "total_amount": "double", "passenger_count": "int",
    "payment_type": "string", "pu_location": "string", "do_location": "string",
    "vendor_id": "string", "ratecode_id": "string", "trip_duration_min": "double",
    "pickup_hour": "int", "pickup_dow": "int", "is_weekend": "int", "year": "string", "month": "string",
}
NUMERIC_FEATURES = ["trip_distance", "fare_amount", "passenger_count", "pickup_hour", "pickup_dow", "is_weekend"]
CATEGORICAL_FEATURES = ["payment_type", "vendor_id", "ratecode_id", "pu_location", "do_location"]
LABEL = "trip_duration_min"
# Linear regression rather than the CLI's default 50-round GBT: one GBT fit
# alone takes longer than a benchmark run may spend.
ALGORITHM = "lr"
COMPACT_TARGET_BYTES = 1 << 20


def _month(rng: np.random.Generator, month: str, n: int) -> dict[str, pa.Array]:
    start = np.datetime64(f"{YEAR}-{month}-01T00:00:00", "s").astype(np.int64)
    days = 28
    pickup = start + rng.integers(0, days * 86_400, n)
    distance = np.round(rng.gamma(2.0, 1.6, n) + 0.1, 2)
    minutes = distance * rng.uniform(2.0, 4.0, n) + rng.uniform(1.0, 6.0, n)
    dropoff = pickup + np.round(minutes * 60).astype(np.int64)
    fare = np.round(3.0 + 2.5 * distance + rng.normal(0.0, 1.0, n).clip(-2, 2), 2)

    bad = rng.random((6, n))
    distance[bad[0] < NONPOS_RATE] = -np.round(rng.uniform(0, 5), 2)
    fare[bad[1] < NONPOS_RATE] = 0.0
    distance[bad[2] < OUTLIER_RATE] *= OUTLIER_FACTOR
    fare[bad[3] < OUTLIER_RATE] *= OUTLIER_FACTOR
    backwards = bad[4] < BACKWARDS_RATE
    dropoff[backwards] = pickup[backwards] - rng.integers(0, 600, int(backwards.sum()))
    pickup_ts = pa.array(pickup.astype("datetime64[s]").astype("datetime64[us]"))
    dropoff_ts = pa.array(dropoff.astype("datetime64[s]").astype("datetime64[us]"))
    null_pick = pa.array(bad[5] < NULL_RATE)
    null_drop = pa.array((bad[5] >= NULL_RATE) & (bad[5] < 2 * NULL_RATE))
    return {
        "vendor_id": pa.array(rng.choice(["1", "2"], n)),
        "pickup_datetime": pc.if_else(null_pick, pa.scalar(None, pickup_ts.type), pickup_ts),
        "dropoff_datetime": pc.if_else(null_drop, pa.scalar(None, dropoff_ts.type), dropoff_ts),
        "passenger_count": pa.array(rng.integers(1, 7, n), pa.int32()),
        "trip_distance": pa.array(distance),
        "ratecode_id": pa.array(rng.choice(["1", "2", "3", "4", "5"], n, p=[0.9, 0.04, 0.02, 0.02, 0.02])),
        "pu_location": pa.array(rng.integers(1, 266, n).astype(str)),
        "do_location": pa.array(rng.integers(1, 266, n).astype(str)),
        "payment_type": pa.array(rng.choice(["1", "2", "3", "4"], n, p=[0.7, 0.25, 0.03, 0.02])),
        "fare_amount": pa.array(fare),
        "total_amount": pa.array(np.round(fare * 1.15 + 1.0, 2)),
    }


def generate_raw_lake(root: str, seed: int, rows_per_month: int = ROWS_PER_MONTH) -> dict[str, int]:
    """Write the raw lake for ``seed`` under ``root``; returns rows and bytes."""
    rng = np.random.default_rng(seed)
    order = rng.permutation(len(SPELLINGS))
    total_rows = total_bytes = 0
    for i, month in enumerate(MONTHS):
        cols = _month(rng, month, rows_per_month)
        spelling = SPELLINGS[order[i % len(order)]]
        table = pa.table({spelling[c]: arr for c, arr in cols.items() if spelling[c]})
        part_dir = os.path.join(root, f"year={YEAR}", f"month={month}")
        os.makedirs(part_dir, exist_ok=True)
        path = os.path.join(part_dir, "part-0.parquet")
        pq.write_table(table, path, compression="snappy")
        total_rows += table.num_rows
        total_bytes += os.path.getsize(path)
    return {"rows": total_rows, "bytes": total_bytes}


def tree_digest(root: str) -> str:
    """sha256 over the relative paths and bytes of every file under ``root``."""
    h = hashlib.sha256()
    for dirpath, _, filenames in sorted(os.walk(root)):
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def tree_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``root``, ignoring checksums and markers."""
    size = files = 0
    for dirpath, _, filenames in os.walk(root):
        for name in filenames:
            if name.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return size, files


class LakeRun:
    """One pass of the lake pipeline over ``root`` (raw/ holds the input)."""

    STAGES = ("etl", "train", "score", "optimize")

    def __init__(self, spark, root: str):
        self.spark = spark
        self.raw = os.path.join(root, "raw")
        self.curated = os.path.join(root, "curated")
        self.model = os.path.join(root, "model")
        self.metrics_out = os.path.join(root, "metrics")
        self.scored = os.path.join(root, "scored")
        self.compacted = os.path.join(root, "compacted")
        self.metrics: dict[str, float] = {}
        self.curated_schema: dict[str, str] = {}
        self.curated_rows = 0
        self.outliers_kept = 0

    def outputs(self) -> list[str]:
        return [self.curated, self.model, self.metrics_out, self.scored, self.compacted]

    def etl(self, span) -> None:
        from proyecto_final_de_big_data_spark.catalog import read_months
        from proyecto_final_de_big_data_spark.pipelines.etl import curate_trips, write_curated

        for month in MONTHS:
            with span("build"):
                curated = curate_trips(read_months(self.spark, self.raw, YEAR, [month]))
            self.curated_schema = dict(curated.dtypes)
            with span("write"):
                write_curated(curated, self.curated)

    def train(self, span) -> None:
        from proyecto_final_de_big_data_spark.io.export import export_table
        from proyecto_final_de_big_data_spark.ml.pipeline import (
            TrainConfig,
            metrics_frame,
            save_model,
            train_and_evaluate,
        )

        cfg = TrainConfig(
            label=LABEL,
            numeric_features=NUMERIC_FEATURES,
            categorical_features=CATEGORICAL_FEATURES,
            algorithm=ALGORITHM,
        )
        with span("fit"):
            model, self.metrics, _ = train_and_evaluate(self.spark.read.parquet(self.curated), cfg)
        with span("write"):
            save_model(model, self.model)
            export_table(metrics_frame(self.spark, self.metrics, algorithm=ALGORITHM, label=LABEL),
                         self.metrics_out, fmt="json", single_file=True)

    def score(self, span) -> None:
        from proyecto_final_de_big_data_spark.ml.pipeline import batch_score, load_model

        with span("build"):
            scored = batch_score(load_model(self.model), self.spark.read.parquet(self.curated))
        with span("write"):
            scored.write.mode("overwrite").partitionBy("year", "month").parquet(self.scored)

    def optimize(self, span) -> None:
        from proyecto_final_de_big_data_spark.io.compact import compact_dataset

        with span("write"):
            compact_dataset(self.spark, self.scored, self.compacted, target_file_bytes=COMPACT_TARGET_BYTES)

    def check(self, raw_rows: int) -> list[tuple[str, str]]:
        """Outside the timed region: (stage, problem) for every broken output contract."""
        from pyspark.sql import functions as F

        problems = []
        schema = {c: "timestamp" if t == "timestamp_ntz" else t for c, t in self.curated_schema.items()}
        if schema != CURATED_SCHEMA:
            problems.append(("etl", f"curated schema {self.curated_schema} != FIXTURES §1"))
        flag = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
        cur = self.spark.read.parquet(self.curated).agg(
            F.count(F.lit(1)),
            flag(
                F.col("pickup_datetime").isNull() | F.col("dropoff_datetime").isNull()
                | (F.col("trip_distance") <= 0) | (F.col("fare_amount") <= 0)
                | (F.col("trip_duration_min") <= 0)
            ),
            # Outliers are not invalid rows: the approximate quantile clip
            # keeps those rarer than its rank error. Counted for the run record.
            flag((F.col("trip_distance") >= OUTLIER_DISTANCE) | (F.col("fare_amount") >= OUTLIER_FARE)),
        ).first()
        self.curated_rows, invalid, self.outliers_kept = cur[0], cur[1] or 0, cur[2] or 0
        if invalid:
            problems.append(("etl", f"{invalid} invalid rows survived etl"))
        if not 0 < self.curated_rows < raw_rows:
            problems.append(("etl", f"curated rows {self.curated_rows} not in (0, {raw_rows})"))
        bad = {k: v for k, v in self.metrics.items() if not math.isfinite(float(v))}
        if bad or not self.metrics:
            problems.append(("train", f"non-finite model metrics {bad or self.metrics}"))
        scored = _content_hash(self.spark.read.parquet(self.scored))
        if scored[0] != self.curated_rows:
            problems.append(("score", f"scored rows {scored[0]} != curated rows {self.curated_rows}"))
        if scored != _content_hash(self.spark.read.parquet(self.compacted)):
            problems.append(("optimize", "compaction changed the row count or content"))
        return problems


def _content_hash(df) -> tuple:
    from pyspark.sql import functions as F

    # ML vector columns have no string form; the scalar columns they derive from are hashed.
    cols = sorted(c for c, t in df.dtypes if t != "vector")
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    row = df.agg(F.count(F.lit(1)), F.bit_xor(h), F.sum(F.pmod(h, F.lit(1_000_000_007)))).first()
    return tuple(row)

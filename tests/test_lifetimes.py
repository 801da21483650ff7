"""Owned lifetimes: every frame an operator pins is released when it
returns or raises (the ``utils/caching.py`` contract), nothing outside
that module persists or unpersists a frame, and the export round-trip
queries leave no temporary directory behind."""

from __future__ import annotations

import ast
import gc
import os
import pathlib
import tempfile

import pytest
from pyspark.errors import ParseException

from proyecto_final_de_big_data_spark.catalog import load_table

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "proyecto_final_de_big_data_spark"


def test_only_the_caching_module_pins():
    offenders = [
        f"{path.relative_to(PACKAGE)}:{node.lineno} .{node.func.attr}("
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "utils" / "caching.py"
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in {"persist", "cache", "unpersist"}
    ]
    assert offenders == []


def _gap_filled_counts(spark, sf_dir, tmp_path):
    from proyecto_final_de_big_data_spark.operators.timegrid import gap_filled_counts

    return gap_filled_counts(load_table(spark, sf_dir, "events"), "ts")


def _top_terms_by_tfidf(spark, sf_dir, tmp_path):
    from proyecto_final_de_big_data_spark.operators.tfidf import top_terms_by_tfidf

    return top_terms_by_tfidf(load_table(spark, sf_dir, "documents"), "lang")


def _simhash_near_dup_pairs(spark, sf_dir, tmp_path):
    from proyecto_final_de_big_data_spark.operators.simhash import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 200")
    return simhash_near_dup_pairs(docs, "doc_id", "text")


def _embedding_near_dup_pairs(spark, sf_dir, tmp_path):
    from proyecto_final_de_big_data_spark.operators.similarity_ann import (
        embedding_near_dup_pairs,
    )

    return embedding_near_dup_pairs(load_table(spark, sf_dir, "embeddings"), dim=64)


def _minhash_dedup_pairs(spark, sf_dir, tmp_path):
    from proyecto_final_de_big_data_spark.operators.dedup import minhash_dedup_pairs

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 200")
    return minhash_dedup_pairs(docs, "doc_id", "text")


def _train_and_evaluate(spark, sf_dir, tmp_path):
    from proyecto_final_de_big_data_spark.ml.pipeline import TrainConfig, train_and_evaluate

    cfg = TrainConfig(
        label="l_extendedprice",
        numeric_features=["l_quantity", "l_discount"],
        algorithm="lr",
    )
    return train_and_evaluate(load_table(spark, sf_dir, "lineitem"), cfg)


def _run_marts_with_sink(spark, sf_dir, tmp_path):
    from proyecto_final_de_big_data_spark.pipelines.marts import run_marts

    marts = {
        "by_flag": lambda df: df.groupBy("l_returnflag").count(),
        "by_status": lambda df: df.groupBy("l_linestatus").count(),
    }
    return run_marts(
        load_table(spark, sf_dir, "lineitem"),
        marts,
        sink=lambda name, df: df.write.parquet(str(tmp_path / name)),
    )


def _no_pins_left(spark, persisted_ids, before: set, survivors: int) -> None:
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert len(persisted_ids() - before) <= survivors


@pytest.mark.parametrize(
    "run",
    [
        _gap_filled_counts,
        _top_terms_by_tfidf,
        _simhash_near_dup_pairs,
        _embedding_near_dup_pairs,
        _minhash_dedup_pairs,
        _train_and_evaluate,
        _run_marts_with_sink,
    ],
    ids=lambda run: run.__name__.lstrip("_"),
)
def test_operator_releases_its_pins(spark, sf_dir, tmp_path, persisted_ids, run):
    spark.catalog.clearCache()
    gc.collect()
    before = persisted_ids()
    run(spark, sf_dir, tmp_path)
    # At most the eagerly checkpointed result survives; its blocks are
    # freed when the frame is garbage collected.
    _no_pins_left(spark, persisted_ids, before, survivors=1)


def test_pins_released_when_the_operator_raises(spark, sf_dir, persisted_ids):
    from proyecto_final_de_big_data_spark.operators.timegrid import gap_filled_counts

    spark.catalog.clearCache()
    before = persisted_ids()
    # The grid interval is parsed after the bucket counts are pinned.
    with pytest.raises(ParseException):
        gap_filled_counts(load_table(spark, sf_dir, "events"), "ts", grain="fortnight")
    _no_pins_left(spark, persisted_ids, before, survivors=0)


def test_export_round_trips_leave_no_temp_dir(spark, sf_dir):
    from proyecto_final_de_big_data_spark.queries import QUERIES

    def export_dirs() -> set:
        return {d for d in os.listdir(tempfile.gettempdir()) if d.startswith("export_rt_")}

    before = export_dirs()
    for fmt in ("csv", "json", "orc", "partitioned"):
        assert QUERIES[f"export_round_trip_{fmt}"].spark_fn(spark, sf_dir).count() == 5
    assert export_dirs() - before == set()

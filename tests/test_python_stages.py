"""The two mechanisms that set what a pandas-UDF stage costs: the
worker-side no-op hook hexscape_spark installs on import (no archive
re-read per task) and checkpoint.spread (the Python stages behind a small
shuffle keep one task per shuffle partition instead of AQE's single
coalesced one)."""

import os
import subprocess
import sys
import zipimport
from pathlib import Path

import hexscape_spark
from hexscape_spark import geo

_UNPICKLE = ("import pickle, sys; pickle.loads(sys.stdin.buffer.read()); "
             "print('hexscape_spark' in sys.modules)")


def _loads_engine(fn) -> bool:
    """Whether unpickling `fn` the way a fresh Python worker unpickles a
    UDF imports hexscape_spark (a clean interpreter: the test process has
    it imported already)."""
    from pyspark import cloudpickle
    root = str(Path(__file__).resolve().parent.parent)
    got = subprocess.run([sys.executable, "-c", _UNPICKLE],
                         input=cloudpickle.dumps(fn), capture_output=True,
                         check=True, env={**os.environ, "PYTHONPATH": root})
    return got.stdout.split() == [b"True"]


def test_workers_keep_the_zip_archives_once_the_engine_is_loaded(
        spark, monkeypatch):
    """A worker that loads an engine UDF imports hexscape_spark through
    cloudpickle, and from then on importlib.invalidate_caches() leaves
    the zip archives alone; the driver keeps the stock hook.  The dedup
    signature UDF is such a UDF: its function names a package global."""
    import pandas as pd
    from pyspark.sql import functions as F

    from hexscape_spark import dedup

    def hook(batches):
        # `hexscape_spark` is a global of this closure, so unpickling it
        # on the worker imports the package by reference, as it does for
        # every engine UDF
        keeps = zipimport.zipimporter.invalidate_caches \
            is hexscape_spark._keep_directory
        for _ in batches:
            yield pd.DataFrame({"keeps": [keeps]})

    got = spark.range(8, numPartitions=4) \
        .mapInPandas(hook, schema="keeps BOOLEAN").distinct().collect()
    assert [r.keeps for r in got] == [True]
    assert zipimport.zipimporter.invalidate_caches \
        is not hexscape_spark._keep_directory

    made, pandas_udf = [], F.pandas_udf

    def recording(*args, **kwargs):
        wrap = pandas_udf(*args, **kwargs)
        return lambda fn: made.append(fn) or wrap(fn)

    monkeypatch.setattr(F, "pandas_udf", recording)
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id LONG, text STRING")
    dedup._signatures(docs, "doc_id", "text", num_hashes=4, shingle_k=2)
    assert len(made) == 1 and _loads_engine(made[0])
    assert not _loads_engine(lambda x: x)


def _materialised_partitions(monkeypatch, module) -> list[int]:
    """Record the partition count of every table `module` materialises."""
    from hexscape_spark import checkpoint
    seen: list[int] = []

    def recording(df):
        out = checkpoint.materialise(df)
        seen.append(out.rdd.getNumPartitions())
        return out

    monkeypatch.setattr(module, "materialise", recording)
    return seen


def test_python_stage_tables_keep_every_shuffle_partition(spark, monkeypatch):
    """The per-document signature table of ngram_jaccard_pairs and the
    level-1 partial of dissolve have spark.sql.shuffle.partitions
    partitions: AQE coalesced their small column-keyed shuffles into one
    task before they went through checkpoint.spread."""
    from hexscape_spark import dedup, dissolve
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert width > 1

    seen = _materialised_partitions(monkeypatch, dedup)
    docs = spark.createDataFrame(
        [(i, f"document {i} says the same few words again") for i in range(40)],
        "doc_id LONG, text STRING").coalesce(1)
    dedup.ngram_jaccard_pairs(docs).count()
    assert seen == [width]

    seen = _materialised_partitions(monkeypatch, dissolve)
    rects = spark.createDataFrame(
        [(k, bytearray(geo.rect_wkb(float(i), 0.0, i + 1.5, 1.0)))
         for k in "ABC" for i in range(12)],
        "clc STRING, geom_wkb BINARY").coalesce(1)
    dissolve.dissolve(rects).count()
    assert seen == [width]

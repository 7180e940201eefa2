"""Refit policy for dataset-keyed artifacts.

q153's SemDeDup coarse cells come from a k-means artifact fitted on
the corpus; the fit/serve split is only sound if a grown or rewritten
corpus under the SAME path triggers a refit. The contract
(plans/training.py:_fitted_artifact) keys the persisted artifact on
the dataset's modification state (file mtime; for a directory, child
count + newest child mtime), so any rewrite/append produces a fresh
fit. The corpus-SCALED piece of the q153 cell id (the sign-LSH mask
width b) is derived in-plan from a count aggregate every run, so it
needs no artifact and no refit policy at all.
"""

from __future__ import annotations

import os
import shutil
import time

import pyspark.sql.functions as F


def _write_embeddings(spark, sf_dir: str, n: int) -> None:
    (spark.range(n)
          .select(F.col("id").alias("vec_id"),
                  F.transform(
                      F.sequence(F.lit(0), F.lit(7)),
                      lambda j: (F.sin(F.col("id") * (j + 1))
                                 .cast("float"))).alias("embedding"))
          .coalesce(1)
          .write.mode("overwrite").parquet(f"{sf_dir}/embeddings.parquet"))


def test_semdedup_artifact_refits_on_corpus_growth(spark, tmp_path,
                                                   monkeypatch):
    from elt_gluepipeline_spark.operators import similarity
    from elt_gluepipeline_spark.plans import training
    from elt_gluepipeline_spark.plans.training import (_SEMDEDUP_K,
                                                       _km_artifact,
                                                       _semdedup_artifact)

    monkeypatch.setattr(training, "_ARTIFACT_ROOT", str(tmp_path / "art"))
    monkeypatch.setattr(training, "_ARTIFACT_MEMO", {})
    fits = []
    real_fit = similarity._pq_fit
    monkeypatch.setattr(similarity, "_pq_fit",
                        lambda *a, **kw: fits.append(kw) or real_fit(*a, **kw))
    sf_dir = str(tmp_path / "ds")
    os.makedirs(sf_dir)
    _write_embeddings(spark, sf_dir, 2500)
    # from an empty root, q67's km and q153's semk8 share ONE k-means fit
    km = _km_artifact(spark, sf_dir)
    art1 = _semdedup_artifact(spark, sf_dir)
    assert len(fits) == 1
    assert art1.books == km.books
    assert art1.k == _SEMDEDUP_K and len(art1.books[0]) == art1.k

    # grow the corpus UNDER THE SAME PATH (the scenario the refit
    # policy exists for); sleep past filesystem mtime granularity so
    # the change is observable even on coarse-mtime filesystems
    time.sleep(0.05)
    shutil.rmtree(f"{sf_dir}/embeddings.parquet")
    _write_embeddings(spark, sf_dir, 10000)
    art2 = _semdedup_artifact(spark, sf_dir)
    assert art2.k == _SEMDEDUP_K
    # refit happened: centroids reflect the new data
    assert art2.books != art1.books

    # unchanged corpus -> artifact is LOADED, not refit (same
    # centroids round-trip from the memo/persisted copy)
    art3 = _semdedup_artifact(spark, sf_dir)
    assert art3.k == art2.k and art3.books == art2.books


def test_corpus_swap_same_path_refits(spark, tmp_path):
    """A corpus SWAP (same path, same row count,
    different content) must refit — the key folds in child mtimes, not
    just sizes/counts."""
    from elt_gluepipeline_spark.plans.training import _semdedup_artifact

    sf_dir = str(tmp_path / "ds")
    os.makedirs(sf_dir)
    _write_embeddings(spark, sf_dir, 3000)
    art1 = _semdedup_artifact(spark, sf_dir)

    time.sleep(0.05)
    shutil.rmtree(f"{sf_dir}/embeddings.parquet")
    # same n, different vectors (phase-shifted) — a pure content swap
    (spark.range(3000)
          .select(F.col("id").alias("vec_id"),
                  F.transform(
                      F.sequence(F.lit(0), F.lit(7)),
                      lambda j: (F.cos(F.col("id") * (j + 2))
                                 .cast("float"))).alias("embedding"))
          .coalesce(1)
          .write.mode("overwrite").parquet(f"{sf_dir}/embeddings.parquet"))
    art2 = _semdedup_artifact(spark, sf_dir)
    assert art2.books != art1.books


def test_artifact_root_is_bounded_lru(spark, tmp_path, monkeypatch):
    """With a tiny byte budget, saving a second artifact evicts the
    least-recently-used one — the root never grows without bound."""
    from elt_gluepipeline_spark.plans import training

    root = str(tmp_path / "artifacts")
    monkeypatch.setattr(training, "_ARTIFACT_ROOT", root)
    monkeypatch.setattr(training, "_ARTIFACT_MEMO", {})
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_MAX_BYTES", "1")

    ds_a = str(tmp_path / "a")
    ds_b = str(tmp_path / "b")
    for d, n in ((ds_a, 2500), (ds_b, 2600)):
        os.makedirs(d)
        _write_embeddings(spark, d, n)
    training._semdedup_artifact(spark, ds_a)
    first = set(os.listdir(root))
    assert len(first) == 1
    time.sleep(0.05)  # mtime granularity between the two saves
    training._semdedup_artifact(spark, ds_b)
    left = set(os.listdir(root))
    # budget of 1 byte: the older artifact was evicted, the one just
    # saved survives (keep= guard)
    assert len(left) == 1 and left != first


def test_semk8_serves_the_km_artifact(spark, tmp_path, monkeypatch):
    """q153's semk8 family is an alias of q67's km artifact: warming
    every family from an empty root saves one k-means copy, not two,
    and still reports how semk8 resolved."""
    from elt_gluepipeline_spark.plans import training

    root = str(tmp_path / "art")
    monkeypatch.setattr(training, "_ARTIFACT_ROOT", root)
    monkeypatch.setattr(training, "_ARTIFACT_MEMO", {})
    sf_dir = str(tmp_path / "ds")
    os.makedirs(sf_dir)
    _write_embeddings(spark, sf_dir, 2500)
    warmed = training.warm_artifacts(spark, sf_dir)
    assert set(warmed) == {"pq", "km", "ivfc", "semk8"}
    assert sorted(d.split("_")[0] for d in os.listdir(root)) == \
        ["ivfc", "km", "pq"]

"""Fit/serve split for the vector-quantizer family: codebooks persist
to a parquet artifact; serve runs score against the loaded artifact
with NO training stage."""

import pytest
from pyspark.sql import functions as F

from elt_gluepipeline_spark.operators.similarity import (
    fit_pq_artifact, ivf_pq_topk_serve, kmeans_assign_serve,
    load_pq_artifact, pq_adc_topk_serve, save_pq_artifact)
from elt_gluepipeline_spark.sources.readers import read_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings")


def test_artifact_roundtrip_bitwise(spark, emb, tmp_path):
    art = fit_pq_artifact(emb, m=4, k=16, n_iter=2, seed=7,
                          n_cells=8, cell_seed=42)
    path = str(tmp_path / "pq")
    save_pq_artifact(spark, art, path)
    back = load_pq_artifact(spark, path)
    assert back == art                      # frozen dataclass equality
    assert back.coarse is not None and len(back.coarse) == 8
    assert len(back.books) == 4 and len(back.books[0]) == 16


def test_serve_equals_fit_and_serve(spark, emb, tmp_path):
    """Serving a saved-and-loaded artifact is output-identical to
    serving the freshly fitted one, for ADC and IVFADC."""
    q = emb.filter(F.col("vec_id") < 5)
    art = fit_pq_artifact(emb, m=4, k=16, n_iter=2, seed=7,
                          n_cells=8, cell_seed=42)
    save_pq_artifact(spark, art, str(tmp_path / "pq"))
    back = load_pq_artifact(spark, str(tmp_path / "pq"))
    a = pq_adc_topk_serve(q, emb, 3, art).collect()
    b = pq_adc_topk_serve(q, emb, 3, back).collect()
    assert a and sorted(map(tuple, a)) == sorted(map(tuple, b))
    a2 = ivf_pq_topk_serve(q, emb, 3, art, n_probe=2).collect()
    b2 = ivf_pq_topk_serve(q, emb, 3, back, n_probe=2).collect()
    assert a2 and sorted(map(tuple, a2)) == sorted(map(tuple, b2))


def test_registry_serve_path_runs_no_fit(spark, sf_dir, monkeypatch, tmp_path):
    """With the artifact on disk, q77/q81/q82 must NEVER train: a
    poisoned _pq_fit proves the fit is excluded from their plans."""
    from elt_gluepipeline_spark.operators import similarity
    from elt_gluepipeline_spark.plans import training

    monkeypatch.setattr(training, "_ARTIFACT_ROOT", str(tmp_path / "arts"))
    monkeypatch.setattr(training, "_ARTIFACT_MEMO", {})
    # first call fits and persists
    assert training.q77_pq_adc(spark, sf_dir).count() > 0

    def _boom(*a, **kw):
        raise AssertionError("serve path must not train")

    monkeypatch.setattr(training, "_ARTIFACT_MEMO", {})  # force disk load
    monkeypatch.setattr(similarity, "_pq_fit", _boom)
    assert training.q77_pq_adc(spark, sf_dir).count() > 0
    assert training.q81_ivf_pq(spark, sf_dir).count() > 0
    assert training.q82_rerank(spark, sf_dir).count() > 0


def test_load_rejects_torn_artifact(spark, emb, tmp_path):
    art = fit_pq_artifact(emb, m=4, k=16, n_iter=2, seed=7)
    path = str(tmp_path / "torn")
    save_pq_artifact(spark, art, path)
    # drop half the centroid rows -> loader must refuse, not serve junk
    torn = spark.read.parquet(path).filter(F.col("cell") < 8)
    torn.write.mode("overwrite").parquet(str(tmp_path / "torn2"))
    with pytest.raises(ValueError, match="torn"):
        load_pq_artifact(spark, str(tmp_path / "torn2"))


# ---------------- k-means / IVF coarse artifacts (m=1 fits) ----------------

def test_kmeans_artifact_roundtrip_and_serve_identity(spark, emb, tmp_path):
    """A k-means model is the m=1 fit: save -> load -> serve must be
    output-identical to serving the fresh fit, also on a corpus smaller
    than k, where the artifact holds (and records) one centroid per
    vector."""
    for n, df in ((8, emb), (5, emb.filter(F.col("vec_id") < 5))):
        art = fit_pq_artifact(df, m=1, k=8, n_iter=2, seed=7)
        path = str(tmp_path / f"km{n}")
        save_pq_artifact(spark, art, path)
        back = load_pq_artifact(spark, path)
        assert back == art
        assert len(back.books) == 1 and len(back.books[0]) == n == back.k

        fresh = kmeans_assign_serve(df, art).collect()
        served = kmeans_assign_serve(df, back).collect()
        assert len(served) == df.count()
        assert sorted(map(tuple, fresh)) == sorted(map(tuple, served))


def test_ivf_centroids_artifact_serve_identity(spark, emb, tmp_path):
    """ivf_ann(centroids=artifact) must equal the fit-in-plan path."""
    from elt_gluepipeline_spark.operators.similarity import ivf_ann

    q = emb.filter(F.col("vec_id") < 5)
    art = fit_pq_artifact(emb, m=1, k=16, n_iter=1, seed=42)
    path = str(tmp_path / "ivfc")
    save_pq_artifact(spark, art, path)
    back = load_pq_artifact(spark, path)
    assert back == art
    in_plan = ivf_ann(q, emb, 3, n_cells=16, n_probe=4, seed=42).collect()
    served = ivf_ann(q, emb, 3, n_cells=16, n_probe=4, seed=42,
                     centroids=[list(c) for c in back.books[0]]).collect()
    assert sorted(map(tuple, in_plan)) == sorted(map(tuple, served))


def test_q67_q31_serve_paths_run_no_fit(spark, sf_dir, monkeypatch, tmp_path):
    """With artifacts on disk, q67/q31 must NEVER train: poisoned fit
    entry points prove the training loop is out of their plans."""
    from elt_gluepipeline_spark.operators import similarity
    from elt_gluepipeline_spark.plans import training

    monkeypatch.setattr(training, "_ARTIFACT_ROOT", str(tmp_path / "arts"))
    monkeypatch.setattr(training, "_ARTIFACT_MEMO", {})
    # first calls fit and persist
    assert training.q67_kmeans(spark, sf_dir).count() > 0
    assert training.q31_ivf_ann(spark, sf_dir).count() > 0

    def _boom(*a, **kw):
        raise AssertionError("serve path must not train")

    monkeypatch.setattr(training, "_ARTIFACT_MEMO", {})  # force disk load
    monkeypatch.setattr(similarity, "_pq_fit", _boom)
    monkeypatch.setattr(similarity, "portable_hash60", None, raising=False)
    assert training.q67_kmeans(spark, sf_dir).count() > 0
    assert training.q31_ivf_ann(spark, sf_dir).count() > 0

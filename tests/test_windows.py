from pyspark.sql import functions as F

from elt_gluepipeline_spark.operators.windows import (dedupe_keep_latest,
                                                      top_n_global,
                                                      top_n_per_key)


def _events(spark):
    rows = [
        ("u1", "click", 1, 10.0),
        ("u1", "click", 3, 30.0),   # latest for (u1, click)
        ("u1", "click", 2, 20.0),
        ("u2", "view", 5, 50.0),
    ]
    return spark.createDataFrame(rows, "user string, typ string, ts long, v double")


def test_dedupe_keep_latest(spark):
    out = dedupe_keep_latest(_events(spark), ["user", "typ"], [F.col("ts").desc()])
    got = {(r.user, r.typ): r.ts for r in out.collect()}
    assert got == {("u1", "click"): 3, ("u2", "view"): 5}


def test_dedupe_idempotent(spark):
    df = _events(spark)
    once = dedupe_keep_latest(df, ["user", "typ"], [F.col("ts").desc()])
    twice = dedupe_keep_latest(once, ["user", "typ"], [F.col("ts").desc()])
    assert sorted(once.collect()) == sorted(twice.collect())


def test_dedupe_tie_break_deterministic(spark):
    rows = [("u1", "click", 1, 100), ("u1", "click", 1, 200)]
    df = spark.createDataFrame(rows, "user string, typ string, ts long, id long")
    out = dedupe_keep_latest(df, ["user", "typ"], [F.col("ts").desc()],
                             [F.col("id").desc()])
    assert out.collect()[0].id == 200


def test_top_n_per_key_and_global(spark):
    df = _events(spark)
    per_key = top_n_per_key(df, ["user"], [F.col("v").desc()], 2)
    assert per_key.filter(F.col("user") == "u1").count() == 2
    top = top_n_global(df, [F.col("v").desc()], 1).collect()
    assert top[0].v == 50.0


def test_scd2_history_collapse_and_bounds(spark):
    from elt_gluepipeline_spark.operators.windows import scd2_history
    rows = [  # user 1: A,A,B,A -> 3 versions; user 2: single row
        (1, 1, "A"), (1, 2, "A"), (1, 3, "B"), (1, 4, "A"),
        (2, 5, "X"),
    ]
    df = spark.createDataFrame(rows, "user_id long, seq long, state string")
    h = scd2_history(df, ["user_id"], [F.col("seq")], ["state"],
                     ts_col="seq", collapse=True)
    got = {(r.user_id, r.version): (r.state, r.valid_from, r.valid_to,
                                    r.is_current)
           for r in h.collect()}
    assert got[(1, 1)] == ("A", 1, 3, False)   # A,A collapsed into one
    assert got[(1, 2)] == ("B", 3, 4, False)
    assert got[(1, 3)] == ("A", 4, None, True)  # A re-opens a NEW version
    assert got[(2, 1)] == ("X", 5, None, True)
    assert len(got) == 4


def test_scd2_history_no_collapse_keeps_every_row(spark):
    from elt_gluepipeline_spark.operators.windows import scd2_history
    rows = [(1, 1, "A"), (1, 2, "A")]
    df = spark.createDataFrame(rows, "user_id long, seq long, state string")
    h = scd2_history(df, ["user_id"], [F.col("seq")], ["state"],
                     ts_col="seq", collapse=False)
    assert h.count() == 2


def test_scd2_history_null_state_transitions(spark):
    from elt_gluepipeline_spark.operators.windows import scd2_history
    rows = [(1, 1, None), (1, 2, None), (1, 3, "A")]
    df = spark.createDataFrame(rows, "user_id long, seq long, state string")
    h = scd2_history(df, ["user_id"], [F.col("seq")], ["state"],
                     ts_col="seq", collapse=True)
    vs = sorted((r.version, r.state) for r in h.collect())
    # NULL==NULL collapses (eqNullSafe); NULL->A versions
    assert vs == [(1, None), (2, "A")]


def test_q109_debounce_anchors_to_kept_not_lag(spark, tmp_path):
    """Burst t, t+30, t+50, t+70: anchored semantics keep t and t+70
    (t+70 is 70s past KEPT t); a naive lag-only filter would drop t+70
    (raw gap to t+50 is 20s). Plus a >=60s event anchors fresh."""
    import datetime as dt

    from elt_gluepipeline_spark.plans import registry

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [(1, ts(0), 7, "click", 1.0, "{}"),
            (2, ts(30), 7, "click", 1.0, "{}"),
            (3, ts(50), 7, "click", 1.0, "{}"),
            (4, ts(70), 7, "click", 1.0, "{}"),
            (5, ts(200), 7, "click", 1.0, "{}"),   # fresh anchor
            (6, ts(10), 7, "view", 1.0, "{}")]     # other type untouched
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    d = tmp_path / "sf"
    d.mkdir()
    df.coalesce(1).write.parquet(str(d / "events.parquet"))
    out = registry()["q109_debounce"].build(spark, str(d))
    kept = sorted(r.event_id for r in out.collect())
    assert kept == [1, 4, 5, 6]


def test_q113_clamp_identity_matches_sequential_fold(spark, sf_dir):
    """prefix − min(0, running-min-of-prefix) == the sequential
    clamp-at-zero fold, verified row-by-row in python."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from elt_gluepipeline_spark.plans import registry

    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
               .select("l_suppkey", "l_orderkey", "l_linenumber",
                       "l_quantity", "l_returnflag").collect())
    seqs = defaultdict(list)
    for r in li:
        d = r.l_quantity if r.l_returnflag == "R" else -r.l_quantity
        seqs[r.l_suppkey].append(
            (r.l_orderkey, r.l_linenumber, r.l_returnflag,
             r.l_quantity, d))
    expect = []
    for k, rows in seqs.items():
        bal = 0.0
        for okey, line, _flag, _qty, d in sorted(rows):
            bal = max(0.0, bal + d)
            if bal > 200.0:
                expect.append((k, okey, line, round(bal, 4)))
    got = sorted((r.l_suppkey, r.l_orderkey, r.l_linenumber,
                  round(r.balance, 4))
                 for r in registry()["q113_stock_balance"]
                 .build(spark, sf_dir).collect())
    assert got == sorted(expect) and len(got) > 0

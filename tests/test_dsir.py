"""DSIR importance resampling (pipeline/dsir.py) — contract tests: the
log-ratio table is exact integer output of the published smoothed
estimator, scoring is an exact integer bag-of-features sum, selection is
deterministic, and degenerate inputs behave."""

import math

import pytest
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.pipeline.dsir import (
    dsir_logratio_table,
    dsir_score,
    dsir_topk,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_logratio_table_matches_reference_model(spark):
    """Hand-check the estimator on a 2-doc corpus: units equal
    floor((ln(cq+1) - ln(Nq+m) - ln(cp+1) + ln(Np+m))*1e6 + 0.5) computed
    in pure Python over exact per-bucket gram counts."""
    m = 16
    raw = _docs(spark, [(1, "aa bb aa"), (2, "cc dd")])
    target = _docs(spark, [(1, "aa bb aa")])
    tbl = {r["b"]: r["unit"] for r in
           dsir_logratio_table(raw, target, m=m).collect()}
    assert len(tbl) == m  # every bucket has a row, smoothed

    def bucket(g):
        import hashlib
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % m

    def grams(text):
        t = text.lower().split()
        return t + [f"{a} {b}" for a, b in zip(t, t[1:])]

    cp, cq = {}, {}
    for did, txt in [(1, "aa bb aa"), (2, "cc dd")]:
        for g in grams(txt):
            b = bucket(g)
            cp[b] = cp.get(b, 0) + 1
            if did == 1:
                cq[b] = cq.get(b, 0) + 1
    np_, nq = sum(cp.values()), sum(cq.values())
    for b in range(m):
        lam = (math.log(cq.get(b, 0) + 1) - math.log(nq + m)
               - math.log(cp.get(b, 0) + 1) + math.log(np_ + m))
        assert tbl[b] == math.floor(lam * 1e6 + 0.5), b


def test_score_is_exact_gram_occurrence_sum(spark):
    """A doc's score is the sum of its gram buckets' units with
    multiplicity; empty/NULL-text docs emit no row."""
    m = 8
    raw = _docs(spark, [(1, "x y x"), (2, ""), (3, None)])
    target = _docs(spark, [(1, "x y x")])
    tbl = dsir_logratio_table(raw, target, m=m)
    units = {r["b"]: r["unit"] for r in tbl.collect()}
    got = {r["doc_id"]: r["score_u"] for r in
           dsir_score(raw, tbl, m=m).collect()}
    assert set(got) == {1}  # empty and NULL text: no feature vector

    def bucket(g):
        import hashlib
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % m

    grams = ["x", "y", "x", "x y", "y x"]
    assert got[1] == sum(units[bucket(g)] for g in grams)


def test_topk_matches_reference_ranking_and_is_deterministic(spark):
    """Selection order equals the pure-Python reference model's ranking
    (score desc, doc_id asc — equal-text docs are true score ties broken
    by id); rank is a dense 1..k prefix; rerun is byte-identical.
    NOTE the estimator is a bag-of-features likelihood ratio: a doc
    REPEATING grams that are popular in raw but rare in target scores
    LOWER than a short mixed doc — the hand-intuition 'shares words with
    target ⇒ ranks first' is wrong, so the expectation is computed, not
    guessed."""
    corpus = [
        (1, "alpha beta alpha beta"),
        (2, "alpha beta alpha beta"),   # score-tie with doc 1
        (3, "gamma delta epsilon zeta"),
        (4, "alpha beta gamma"),
    ]
    tgt_text = "alpha beta alpha"
    m = 4096

    def bucket(g):
        import hashlib
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % m

    def grams(text):
        t = text.lower().split()
        return t + [f"{a} {b}" for a, b in zip(t, t[1:])]

    cp, cq = {}, {}
    for _, txt in corpus:
        for g in grams(txt):
            cp[bucket(g)] = cp.get(bucket(g), 0) + 1
    for g in grams(tgt_text):
        cq[bucket(g)] = cq.get(bucket(g), 0) + 1
    np_, nq = sum(cp.values()), sum(cq.values())

    def unit(b):
        lam = (math.log(cq.get(b, 0) + 1) - math.log(nq + m)
               - math.log(cp.get(b, 0) + 1) + math.log(np_ + m))
        return math.floor(lam * 1e6 + 0.5)

    expect = sorted(
        ((did, sum(unit(bucket(g)) for g in grams(txt)))
         for did, txt in corpus),
        key=lambda r: (-r[1], r[0]),
    )[:3]

    raw = _docs(spark, corpus)
    target = _docs(spark, [(9, tgt_text)])
    out1 = sorted(
        [(r["doc_id"], r["score_u"], r["rank"])
         for r in dsir_topk(raw, target, k=3).collect()],
        key=lambda r: r[2],
    )
    assert [(d, s) for d, s, _ in out1] == expect
    assert [r[2] for r in out1] == [1, 2, 3]
    scores = {d: s for d, s, _ in out1}
    if 1 in scores and 2 in scores:
        assert scores[1] == scores[2]  # identical text ⇒ exact score tie
    out2 = sorted(
        [(r["doc_id"], r["score_u"], r["rank"])
         for r in dsir_topk(raw, target, k=3).collect()],
        key=lambda r: r[2],
    )
    assert out1 == out2

    with pytest.raises(ValueError, match="k must be"):
        dsir_topk(raw, target, k=0)
    with pytest.raises(ValueError, match="m must be"):
        dsir_logratio_table(raw, target, m=0)


def test_dsir_sample_gumbel_exact_and_seeded(spark):
    """Gumbel keys match the pure-Python replay exactly (md5-uniform →
    quantized micro-units), the draw is without replacement (k distinct
    docs), deterministic per seed, and seed-sensitive."""
    import hashlib

    corpus = [(i, f"w{i} common text body") for i in range(30)]
    raw = _docs(spark, corpus)
    target = _docs(spark, [(99, "common text")])
    from prometheus_parquet_server_spark.pipeline.dsir import dsir_sample

    out = dsir_sample(raw, target, k=10, m=64, seed=42).collect()
    assert len(out) == 10
    assert len({r["doc_id"] for r in out}) == 10  # without replacement
    for r in out:
        u = (int(hashlib.md5(f"{r['doc_id']}:42".encode())
                 .hexdigest()[:13], 16) + 1) / float(2**52 + 2)
        want = math.floor(-math.log(-math.log(u)) * 1e6 + 0.5)
        assert r["gumbel_u"] == want
        assert r["key_u"] == r["score_u"] + r["gumbel_u"]
    again = dsir_sample(raw, target, k=10, m=64, seed=42).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = dsir_sample(raw, target, k=10, m=64, seed=7).collect()
    assert {r["doc_id"] for r in other} != {r["doc_id"] for r in out}


def test_incremental_counts_store_equals_one_shot_table(spark, tmp_path):
    """The persisted DSIR distribution store (dsir_counts_ingest /
    dsir_table_read on snapshot_merge): ingesting the raw corpus in 3
    batches and the target in 2 yields a table BIT-IDENTICAL to the
    one-shot dsir_logratio_table over the unions (the λ construction is
    literally shared); each ingest is O(m + batch) — history counts fold
    without a corpus rescan; m is pinned (a mismatched ingest raises);
    redelivered txn batches are no-ops; time travel reads an earlier
    corpus state's table."""
    from prometheus_parquet_server_spark.pipeline.dsir import (
        dsir_counts_ingest,
        dsir_table_read,
    )
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_version,
    )

    m = 32
    raw_rows = [
        (i, f"tok{i % 7} tok{(i * 3) % 11} shared tok{i % 5}")
        for i in range(30)
    ]
    target_rows = [(100 + i, f"tok{i % 5} shared special") for i in range(10)]
    raw = _docs(spark, raw_rows)
    target = _docs(spark, target_rows)
    store = f"file://{tmp_path}/dsir_counts"

    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        dsir_counts_ingest(
            spark, store, _docs(spark, raw_rows[lo:hi]), side="raw", m=m
        )
    v_raw_only = snapshot_version(spark, store)
    for lo, hi in ((0, 5), (5, 10)):
        dsir_counts_ingest(
            spark, store, _docs(spark, target_rows[lo:hi]), side="target", m=m
        )

    got = {(r["b"], r["unit"]) for r in dsir_table_read(spark, store).collect()}
    want = {
        (r["b"], r["unit"])
        for r in dsir_logratio_table(raw, target, m=m).collect()
    }
    assert got == want and len(got) == m

    # m is pinned in the manifest
    with pytest.raises(Exception, match="dsir_m"):
        dsir_counts_ingest(spark, store, raw.limit(2), side="raw", m=64)
    with pytest.raises(ValueError, match="side"):
        dsir_counts_ingest(spark, store, raw.limit(2), side="validation", m=m)

    # txn idempotence: a redelivered batch is a version-preserving no-op
    v = snapshot_version(spark, store)
    dsir_counts_ingest(
        spark, store, _docs(spark, raw_rows[:3]), side="raw", m=m,
        txn=("dsir-test", 7),
    )
    v2 = snapshot_version(spark, store)
    assert v2 == v + 1
    dsir_counts_ingest(
        spark, store, _docs(spark, raw_rows[:3]), side="raw", m=m,
        txn=("dsir-test", 7),
    )
    assert snapshot_version(spark, store) == v2  # replay did not commit

    # time travel: the raw-only corpus state's table == one-shot with an
    # EMPTY target (pure smoothing on the q side)
    old = {
        (r["b"], r["unit"])
        for r in dsir_table_read(spark, store, version=v_raw_only).collect()
    }
    empty_target = _docs(spark, []).filter(F.lit(False))
    want_old = {
        (r["b"], r["unit"])
        for r in dsir_logratio_table(raw, empty_target, m=m).collect()
    }
    assert old == want_old


def test_stream_dsir_ingest_matches_batch(spark, tmp_path):
    """availableNow streaming drain through stream_dsir_ingest produces
    the SAME table as batch dsir_counts_ingest of the same docs;
    checkpoint-reset replay with the same app_id is a version-preserving
    no-op (txn marker)."""
    import shutil

    from prometheus_parquet_server_spark.pipeline.dsir import (
        dsir_counts_ingest,
        dsir_table_read,
        stream_dsir_ingest,
    )
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_version,
    )

    m = 16
    raw_rows = [(i, f"alpha tok{i % 4} beta tok{i % 6}") for i in range(20)]
    tgt_rows = [(50 + i, f"alpha special tok{i % 3}") for i in range(6)]
    raw = _docs(spark, raw_rows)

    # batch twin
    batch_store = f"file://{tmp_path}/dsir_batch"
    dsir_counts_ingest(spark, batch_store, raw, side="raw", m=m)
    dsir_counts_ingest(
        spark, batch_store, _docs(spark, tgt_rows), side="target", m=m
    )
    want = {
        (r["b"], r["unit"])
        for r in dsir_table_read(spark, batch_store).collect()
    }

    # streaming: raw docs arrive through a file stream; target via batch
    src = f"{tmp_path}/docs_src"
    raw.coalesce(2).write.mode("overwrite").parquet(src)
    stream_store = f"file://{tmp_path}/dsir_stream"
    # seed the target side via batch first so both sides exist when the
    # table reads back (the stream folds only the raw side)
    dsir_counts_ingest(
        spark, stream_store, _docs(spark, tgt_rows), side="target", m=m
    )
    stream = spark.readStream.schema(raw.schema).parquet(src)
    q = stream_dsir_ingest(stream, spark, stream_store, side="raw", m=m)
    q.awaitTermination(120)
    got = {
        (r["b"], r["unit"])
        for r in dsir_table_read(spark, stream_store).collect()
    }
    assert got == want

    # replay with a reset checkpoint + same app_id: marker no-ops it
    v = snapshot_version(spark, stream_store)
    shutil.rmtree(f"{tmp_path}/dsir_stream/_stream_checkpoint_raw")
    q2 = stream_dsir_ingest(stream, spark, stream_store, side="raw", m=m)
    q2.awaitTermination(120)
    assert snapshot_version(spark, stream_store) == v


def test_dsir_drift_matches_reference_and_detects_shift(spark, tmp_path):
    """dsir_drift vs a pure-Python smoothed-JS reference over exact
    counts; identical versions drift ~0 (only the smoothing floor);
    a vocabulary shift produces strictly larger total drift."""
    import math

    from prometheus_parquet_server_spark.pipeline.dsir import (
        dsir_counts_ingest,
        dsir_drift,
    )

    m = 16
    a = [(i, f"alpha tok{i % 4}") for i in range(12)]
    b = [(50 + i, f"omega shift{i % 5} zeta") for i in range(12)]
    store = f"file://{tmp_path}/drift"
    dsir_counts_ingest(spark, store, _docs(spark, a), side="raw", m=m)   # v1
    dsir_counts_ingest(spark, store, _docs(spark, a), side="raw", m=m)   # v2: same again
    dsir_counts_ingest(spark, store, _docs(spark, b), side="raw", m=m)   # v3: shifted

    rows = {r["b"]: r for r in dsir_drift(spark, store, 1, 3, side="raw").collect()}
    assert len(rows) == m

    # pure-Python reference over exact gram counts
    def grams(text):
        t = text.lower().split()
        return t + [f"{x} {y}" for x, y in zip(t, t[1:])]

    def bucket(g):
        import hashlib
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % m

    def count(docs):
        c = {}
        for _, text in docs:
            for g in grams(text):
                bb = bucket(g)
                c[bb] = c.get(bb, 0) + 1
        return c

    c1, c3 = count(a), count(a + a + b)
    n1, n3 = sum(c1.values()), sum(c3.values())
    for bb in range(m):
        p = (c1.get(bb, 0) + 1) / (n1 + m)
        q = (c3.get(bb, 0) + 1) / (n3 + m)
        mid = (p + q) / 2.0
        want = math.floor(
            0.5 * (p * (math.log(p) - math.log(mid))
                   + q * (math.log(q) - math.log(mid))) * 1e12 + 0.5
        )
        r = rows[bb]
        assert (r["c_old"], r["c_new"]) == (c1.get(bb, 0), c3.get(bb, 0))
        assert r["contrib_u"] == want, bb

    # v1 vs v2 re-ingests the SAME docs (every count doubles): the
    # underlying distribution is unchanged, but Laplace smoothing shifts
    # with corpus size, so this is the method's size floor rather than
    # zero — a genuine vocabulary shift must still clearly dominate it
    same = sum(r["contrib_u"] for r in
               dsir_drift(spark, store, 1, 2, side="raw").collect())
    shifted = sum(r["contrib_u"] for r in rows.values())
    assert shifted > 5 * max(same, 1), (shifted, same)

    with pytest.raises(ValueError, match="side"):
        dsir_drift(spark, store, 1, 3, side="nope")


def test_dsir_sample_from_table_store_served_equals_one_shot(spark, tmp_path):
    """Gumbel sampling served from the persisted counts store
    (dsir_table_read → dsir_sample_from_table) is BIT-IDENTICAL to the
    one-shot dsir_sample over the same corpora — the selection scaffold
    is literally shared, and the store's λ table is bit-equal to the
    one-shot fit."""
    from prometheus_parquet_server_spark.pipeline.dsir import (
        dsir_counts_ingest,
        dsir_sample,
        dsir_sample_from_table,
        dsir_table_read,
    )

    m = 32
    raw_rows = [(i, f"tok{i % 7} shared tok{(i * 3) % 11}") for i in range(30)]
    tgt_rows = [(100 + i, f"tok{i % 5} shared special") for i in range(10)]
    raw = _docs(spark, raw_rows)
    target = _docs(spark, tgt_rows)

    store = f"file://{tmp_path}/dsir_sample_store"
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        dsir_counts_ingest(
            spark, store, _docs(spark, raw_rows[lo:hi]), side="raw", m=m
        )
    dsir_counts_ingest(
        spark, store, _docs(spark, tgt_rows), side="target", m=m
    )

    served = dsir_sample_from_table(
        raw, dsir_table_read(spark, store), k=8, m=m, seed=42
    ).collect()
    one_shot = dsir_sample(raw, target, k=8, m=m, seed=42).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, one_shot))
    assert len(served) == 8

    with pytest.raises(ValueError, match="k"):
        dsir_sample_from_table(raw, dsir_table_read(spark, store), k=0, m=m)


def test_dsir_drift_total_and_stream_alert(spark, tmp_path):
    """dsir_drift_total is the exact integer sum of the per-bucket
    contributions with the ln 2-normalized fraction; the streaming hook
    fires on_drift at commit cadence when js_frac crosses tau, never
    rescanning the corpus, and stays silent below tau."""
    import math

    from prometheus_parquet_server_spark.pipeline.dsir import (
        dsir_counts_ingest,
        dsir_drift,
        dsir_drift_total,
        stream_dsir_ingest,
    )

    m = 16
    a = [(i, f"alpha tok{i % 4}") for i in range(12)]
    b = [(50 + i, f"omega shift{i % 5} zeta") for i in range(12)]
    store = f"file://{tmp_path}/drift_total"
    dsir_counts_ingest(spark, store, _docs(spark, a), side="raw", m=m)  # v1
    dsir_counts_ingest(spark, store, _docs(spark, b), side="raw", m=m)  # v2

    want_u = sum(
        r["contrib_u"] for r in dsir_drift(spark, store, 1, 2).collect()
    )
    row = dsir_drift_total(spark, store, 1, 2).first()
    assert row["drift_u"] == want_u
    assert row["js_frac"] == want_u / 1e12 / math.log(2.0)
    assert 0.0 <= row["js_frac"] <= 1.0

    # streaming with the drift hook: first batch sets the baseline, the
    # shifted second batch must alert; tau=1.1 (unreachable) never fires
    src = f"{tmp_path}/drift_src"
    _docs(spark, a).coalesce(1).write.mode("overwrite").parquet(src)
    stream_store = f"file://{tmp_path}/drift_stream"
    alerts = []
    stream = spark.readStream.schema(_docs(spark, a).schema).parquet(src)
    q = stream_dsir_ingest(
        stream, spark, stream_store, side="raw", m=m,
        drift_tau=0.0, on_drift=alerts.append,
    )
    q.awaitTermination(120)
    assert alerts == []  # one commit: baseline only, nothing to compare

    _docs(spark, b).coalesce(1).write.mode("append").parquet(src)
    q2 = stream_dsir_ingest(
        stream, spark, stream_store, side="raw", m=m,
        drift_tau=0.0, on_drift=alerts.append,
    )
    q2.awaitTermination(120)
    assert len(alerts) == 1
    info = alerts[0]
    assert info["v_new"] > info["v_old"] and info["drift_u"] > 0
    assert info["js_frac"] == pytest.approx(
        info["drift_u"] / 1e12 / math.log(2.0)
    )

    # restart whose first batch is a txn-deduped redelivery: the tip is
    # captured BEFORE the first ingest, so the no-op replay is never
    # measured — no self-drift, no spurious alert even at tau=0.0
    import shutil

    shutil.rmtree(f"{tmp_path}/drift_stream/_stream_checkpoint_raw")
    q_replay = stream_dsir_ingest(
        stream, spark, stream_store, side="raw", m=m,
        drift_tau=0.0, on_drift=alerts.append,
    )
    q_replay.awaitTermination(120)
    assert len(alerts) == 1  # unchanged: replays measured nothing

    # silent below tau: fresh store+checkpoint, unreachable threshold
    quiet = []
    quiet_store = f"file://{tmp_path}/drift_quiet"
    q3 = stream_dsir_ingest(
        stream, spark, quiet_store, side="raw", m=m,
        drift_tau=1.1, on_drift=quiet.append,
    )
    q3.awaitTermination(120)
    assert quiet == []

    with pytest.raises(ValueError, match="on_drift"):
        stream_dsir_ingest(stream, spark, quiet_store, drift_tau=0.5)


def test_stream_dsir_ingest_drift_alert_failure_does_not_fail_batch(
    spark, tmp_path
):
    """ADVICE r11: the drift measurement/on_drift callback runs AFTER the
    store commit inside foreachBatch — a raising callback must NOT fail
    the batch post-commit (the txn-deduped replay would be a no-op and
    the alert permanently lost anyway; alerting is at-most-once by
    design). The stream must drain cleanly, the ingest must be durable,
    and a later healthy cycle still works."""
    from prometheus_parquet_server_spark.pipeline.dsir import (
        dsir_table_read,
        stream_dsir_ingest,
    )
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_version,
    )

    m = 16
    a = [(i, f"alpha tok{i % 4}") for i in range(10)]
    b = [(50 + i, f"omega shift{i % 5} zeta") for i in range(10)]
    src = f"{tmp_path}/drift_boom_src"
    _docs(spark, a).coalesce(1).write.mode("overwrite").parquet(src)
    store = f"file://{tmp_path}/drift_boom_store"
    stream = spark.readStream.schema(_docs(spark, a).schema).parquet(src)

    def boom(_info):
        raise RuntimeError("alert sink down")

    q = stream_dsir_ingest(
        stream, spark, store, side="raw", m=m, drift_tau=0.0, on_drift=boom,
    )
    q.awaitTermination(120)  # baseline commit, no alert yet

    _docs(spark, b).coalesce(1).write.mode("append").parquet(src)
    q2 = stream_dsir_ingest(
        stream, spark, store, side="raw", m=m, drift_tau=0.0, on_drift=boom,
    )
    q2.awaitTermination(120)
    assert q2.exception() is None  # callback raised, batch did NOT fail
    v = snapshot_version(spark, store)
    assert v == 2  # both commits durable
    n_rows = dsir_table_read(spark, store).count()
    assert n_rows > 0


def test_counts_ingest_writes_one_file_per_commit(spark, tmp_path):
    """r15: the counts store is m-bounded by construction (≤ m rows per
    side at any corpus size), so each merge commit must write ONE data
    file per touched side — not shuffle.partitions range slices. Pins the
    snapshot_merge num_partitions hint."""
    from prometheus_parquet_server_spark.pipeline.dsir import (
        dsir_counts_ingest,
    )
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_read,
    )

    store = f"file://{tmp_path}/counts"
    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i%7}") for i in range(200)],
        "doc_id long, text string",
    )
    dsir_counts_ingest(spark, store, docs.filter("doc_id % 2 = 0"), side="raw", m=64)
    dsir_counts_ingest(spark, store, docs.filter("doc_id % 2 = 1"), side="raw", m=64)
    dsir_counts_ingest(spark, store, docs.filter("doc_id % 17 = 3"), side="target", m=64)
    from prometheus_parquet_server_spark.sources.manifest import read_manifest
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_version,
    )

    tip = snapshot_version(spark, store)
    files = read_manifest(store, tip)["files"]
    assert len(files) <= 2, files  # one raw file + one target file
    # and the read-back is the fold of all three batches
    raw = snapshot_read(spark, store, names=["raw"])
    assert raw.agg(F.sum("c")).first()[0] > 0

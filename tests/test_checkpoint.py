"""Checkpoint-resume: kill after bucket k, rerun, identical final table,
committed buckets not recomputed."""

import os

import pytest
from pyspark.sql import functions as F

from bsc_project_spark.fixtures import spark_io
from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG
from bsc_project_spark.pipeline.checkpoint import (
    read_extracted,
    read_lineage,
    read_manifest,
    run_extraction_job,
)
from bsc_project_spark.pipeline.extract import extract_spans


def _mtimes(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def test_kill_and_resume(spark, corpus, tmp_path):
    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    out_dir = str(tmp_path / "job")

    # run 1: crash injected after bucket 1 commits
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_job(
            docs, media, FIXTURE_CONFIG, out_dir, n_buckets=4, fail_after_bucket=1
        )
    m1 = read_manifest(out_dir)
    assert m1["committed_buckets"] == [0, 1]
    committed_files = {
        b: _mtimes(os.path.join(out_dir, f"data/bucket={b}")) for b in (0, 1)
    }

    # run 2: resume completes the remaining buckets without touching 0/1
    m2 = run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=4)
    assert m2["committed_buckets"] == [0, 1, 2, 3]
    assert m2["run_id"] == m1["run_id"]
    for b in (0, 1):
        assert _mtimes(os.path.join(out_dir, f"data/bucket={b}")) == committed_files[b], (
            f"bucket {b} was recomputed on resume"
        )

    # final table == one-shot extraction
    final = read_extracted(spark, out_dir)
    oneshot = extract_spans(docs, media, FIXTURE_CONFIG)
    assert final.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(final).count() == 0

    # lineage covers all buckets with consistent run_id
    lin = read_lineage(spark, out_dir)
    rows = lin.collect()
    assert {r.bucket for r in rows} == {0, 1, 2, 3}
    assert {r.run_id for r in rows} == {m2["run_id"]}


def test_bucket_count_mismatch_rejected(spark, corpus, tmp_path):
    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    out_dir = str(tmp_path / "job2")
    with pytest.raises(RuntimeError):
        run_extraction_job(
            docs, media, FIXTURE_CONFIG, out_dir, n_buckets=2, fail_after_bucket=0
        )
    with pytest.raises(ValueError, match="bucket count mismatch"):
        run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=8)


def test_page_stage_resume_and_global_page_dedup(spark, skew_corpus, tmp_path):
    """Crash mid-PAGE-stage, resume; committed page buckets are not
    recomputed, and every unique page is extracted exactly once globally
    even though skew docs re-reference pages across doc buckets."""
    from bsc_project_spark.pipeline.checkpoint import read_doc_lineage

    docs = spark_io.documents_df(spark, skew_corpus)
    media = spark_io.media_df(spark, skew_corpus)
    out_dir = str(tmp_path / "job3")

    with pytest.raises(RuntimeError, match="injected failure after page bucket"):
        run_extraction_job(
            docs, media, FIXTURE_CONFIG, out_dir, n_buckets=4,
            fail_after_page_bucket=1,
        )
    m1 = read_manifest(out_dir)
    assert m1["committed_page_buckets"] == [0, 1]
    assert m1["committed_buckets"] == []
    cell_files = {
        b: _mtimes(os.path.join(out_dir, f"cells/pbucket={b}")) for b in (0, 1)
    }

    m2 = run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=4)
    assert m2["committed_page_buckets"] == [0, 1, 2, 3]
    assert m2["committed_buckets"] == [0, 1, 2, 3]
    for b in (0, 1):
        assert _mtimes(os.path.join(out_dir, f"cells/pbucket={b}")) == cell_files[b], (
            f"page bucket {b} was recomputed on resume"
        )

    # global page dedup: lineage page_count sums to the UNIQUE page count,
    # not to pages-per-doc-bucket (the single-stage design recomputed
    # shared pages in every doc bucket that referenced them)
    lin = read_lineage(spark, out_dir)
    total_pages = lin.groupBy().sum("page_count").collect()[0][0]
    assert total_pages == len(skew_corpus.media)

    # output equality with the one-shot pipeline
    final = read_extracted(spark, out_dir)
    oneshot = extract_spans(docs, media, FIXTURE_CONFIG)
    assert final.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(final).count() == 0

    # doc lineage covers all buckets and counts every document
    dl = read_doc_lineage(spark, out_dir)
    rows = dl.collect()
    assert {r.bucket for r in rows} == {0, 1, 2, 3}
    assert sum(r.doc_count for r in rows) == len(skew_corpus.documents)


def test_snapshot_time_travel_and_rollback(spark, corpus, tmp_path):
    """Every commit freezes an immutable snapshot; as_of reads past states;
    rollback re-points the table (append-only history) and a rerun
    recommits exactly the rolled-back buckets."""
    from bsc_project_spark.pipeline.checkpoint import list_snapshots, rollback

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    out_dir = str(tmp_path / "job4")

    m = run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=4)
    snaps = list_snapshots(out_dir)
    # one snapshot per commit: page buckets + doc buckets, ids 1..N
    assert [s["snapshot_id"] for s in snaps] == list(range(1, len(snaps) + 1))
    assert len(snaps) == len(m["committed_page_buckets"]) + len(m["committed_buckets"])
    assert snaps[-1]["snapshot_id"] == m["snapshot_id"]

    # time travel: at the first doc-stage commit only bucket 0 is visible
    first_doc_snap = next(s for s in snaps if s["committed_buckets"])
    old = read_extracted(spark, out_dir, as_of=first_doc_snap["snapshot_id"])
    full = read_extracted(spark, out_dir)
    assert old.count() < full.count()
    bucket0_docs = {r.doc_id for r in old.select("doc_id").distinct().collect()}
    assert bucket0_docs < {r.doc_id for r in full.select("doc_id").distinct().collect()}

    # rollback to that state: new snapshot, old data visible, history intact
    rb = rollback(out_dir, first_doc_snap["snapshot_id"])
    assert rb["snapshot_id"] == m["snapshot_id"] + 1
    assert rb["rolled_back_to"] == first_doc_snap["snapshot_id"]
    assert read_manifest(out_dir)["committed_buckets"] == [0]
    assert read_extracted(spark, out_dir).count() == old.count()
    # the pre-rollback snapshot stays readable (append-only history)
    assert read_extracted(spark, out_dir, as_of=m["snapshot_id"]).count() == full.count()

    # resume from the rolled-back state: only buckets 1..3 recommit, and the
    # final table equals the pre-rollback one.  Materialize the pre-rollback
    # rows first: the rerun OVERWRITES bucket files, so the lazy `full` plan
    # would read deleted files afterwards.
    full_rows = sorted(map(tuple, full.collect()))
    m2 = run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=4)
    assert m2["committed_buckets"] == [0, 1, 2, 3]
    assert sorted(map(tuple, read_extracted(spark, out_dir).collect())) == full_rows


def test_incremental_update_reuses_committed_pages(spark, corpus, tmp_path):
    """New documents land via run_incremental_update: already-extracted
    pages are never re-run (kernel cost proportional to genuinely-new
    pages), the update commits atomically as one snapshot, and the final
    table equals one-shot extraction over the union."""
    from bsc_project_spark.fixtures.spark_io import DOCUMENTS_SCHEMA
    from bsc_project_spark.pipeline.checkpoint import (
        list_snapshots,
        run_incremental_update,
    )

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    base_ids, delta_ids = set(ids[: len(ids) // 2]), set(ids[len(ids) // 2 :])
    base_docs = docs.filter(F.col("doc_id").isin(base_ids))
    out_dir = str(tmp_path / "job5")

    run_extraction_job(base_docs, media, FIXTURE_CONFIG, out_dir, n_buckets=2)
    base_cells = _mtimes(os.path.join(out_dir, "cells"))
    snaps_before = len(list_snapshots(out_dir))

    # delta: the remaining docs (new pages) + one doc citing an OLD page
    base_ref = (
        spark_io.documents_df(spark, corpus)
        .filter(F.col("doc_id").isin(base_ids))
        .select(F.explode("spans").alias("s"))
        .filter("s.kind = 'media'")
        .select("s.media_ref").first().media_ref
    )
    extra = spark.createDataFrame(
        [("doc-extra", [("text", "intro", None, 0), ("media", None, base_ref, 1)])],
        DOCUMENTS_SCHEMA,
    )
    delta_docs = docs.filter(F.col("doc_id").isin(delta_ids)).unionByName(extra)

    m = run_incremental_update(delta_docs, media, FIXTURE_CONFIG, out_dir)
    assert m["committed_updates"] == [1]
    assert len(list_snapshots(out_dir)) == snaps_before + 1
    # committed base cells untouched byte-for-byte
    assert {
        p: t for p, t in _mtimes(os.path.join(out_dir, "cells")).items()
        if "update=" not in p
    } == base_cells

    # the update's page lineage counts ONLY genuinely-new pages: the shared
    # page cited by doc-extra was reused, not re-extracted
    delta_refs = {
        r.media_ref
        for r in delta_docs.select(F.explode("spans").alias("s"))
        .filter("s.kind = 'media'").select("s.media_ref").distinct().collect()
    }
    base_refs = {
        r.media_ref
        for r in base_docs.select(F.explode("spans").alias("s"))
        .filter("s.kind = 'media'").select("s.media_ref").distinct().collect()
    }
    lin = read_lineage(spark, out_dir)
    update_pages = (
        lin.filter("bucket = -1").groupBy().sum("page_count").collect()[0][0]
    )
    assert update_pages == len(delta_refs - base_refs)

    # final table == one-shot extraction over base + delta documents
    final = read_extracted(spark, out_dir)
    oneshot = extract_spans(
        base_docs.unionByName(delta_docs), media, FIXTURE_CONFIG
    )
    assert final.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(final).count() == 0

    # a second update citing ONLY old pages: zero kernel work, doc assembled
    extra2 = spark.createDataFrame(
        [("doc-extra-2", [("media", None, base_ref, 0)])], DOCUMENTS_SCHEMA
    )
    m2 = run_incremental_update(extra2, media, FIXTURE_CONFIG, out_dir)
    assert m2["committed_updates"] == [1, 2]
    lin2 = read_lineage(spark, out_dir)
    assert lin2.filter("bucket = -2").groupBy().sum("page_count").collect()[0][0] == 0
    assert read_extracted(spark, out_dir).filter("doc_id = 'doc-extra-2'").count() > 0


def test_compaction_and_snapshot_expiry(spark, corpus, tmp_path):
    """compact() folds all committed doc dirs into one, later updates
    append alongside it, pre-compaction snapshots stay readable until
    expire_snapshots garbage-collects exactly the unreferenced dirs."""
    from bsc_project_spark.fixtures.spark_io import DOCUMENTS_SCHEMA
    from bsc_project_spark.pipeline.checkpoint import (
        compact,
        expire_snapshots,
        list_snapshots,
        run_incremental_update,
    )

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    out_dir = str(tmp_path / "job6")
    run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=4)
    full_rows = sorted(map(tuple, read_extracted(spark, out_dir).collect()))
    pre_compaction_sid = read_manifest(out_dir)["snapshot_id"]

    mc = compact(spark, out_dir)
    assert mc["compaction"]["id"] == 1
    assert mc["compaction"]["buckets"] == [0, 1, 2, 3]
    # identical rows from the compacted layout
    assert sorted(map(tuple, read_extracted(spark, out_dir).collect())) == full_rows
    # ... and the pre-compaction snapshot still reads the original dirs
    assert sorted(
        map(tuple, read_extracted(spark, out_dir, as_of=pre_compaction_sid).collect())
    ) == full_rows

    # an update AFTER compaction appends alongside the compacted dir
    some_ref = (
        docs.select(F.explode("spans").alias("s")).filter("s.kind = 'media'")
        .select("s.media_ref").first().media_ref
    )
    extra = spark.createDataFrame(
        [("doc-post-compact", [("media", None, some_ref, 0)])], DOCUMENTS_SCHEMA
    )
    mu = run_incremental_update(extra, media, FIXTURE_CONFIG, out_dir)
    assert mu["compaction"]["id"] == 1  # survived the update commit
    now = read_extracted(spark, out_dir)
    new_spans = now.filter("doc_id = 'doc-post-compact'").count()
    assert new_spans > 0  # one row per extracted span of the new doc
    assert now.count() == len(full_rows) + new_spans

    # expire everything before the compaction snapshot: the four original
    # bucket dirs are orphaned and deleted; current reads are unaffected
    deleted = expire_snapshots(out_dir, keep_from=mc["snapshot_id"])
    assert {os.path.basename(p) for p in deleted if "data" in p} == {
        f"bucket={b}" for b in range(4)
    }
    assert min(s["snapshot_id"] for s in list_snapshots(out_dir)) == mc["snapshot_id"]
    assert read_extracted(spark, out_dir).count() == len(full_rows) + new_spans
    # time travel older than the horizon is now (correctly) impossible
    with pytest.raises(ValueError, match="no snapshot"):
        read_manifest(out_dir, as_of=1)


def test_empty_buckets_commit_zero_lineage_and_empty_ledgers(spark, corpus, tmp_path):
    """More page buckets than unique pages and more doc buckets than
    documents: every empty page delta still commits a zero lineage row,
    every empty doc delta an empty ledger the committed-ids scan can
    prune to, and the table equals one-shot extraction."""
    from bsc_project_spark.pipeline.checkpoint import committed_doc_ids

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    out_dir = str(tmp_path / "job7")
    n_pages, n_docs = len(corpus.media), len(corpus.documents)
    n_page_buckets, n_buckets = n_pages + 2, n_docs + 2

    run_extraction_job(
        docs, media, FIXTURE_CONFIG, out_dir, n_buckets=n_buckets,
        n_page_buckets=n_page_buckets,
    )
    rows = read_lineage(spark, out_dir).collect()
    assert {r.bucket for r in rows} == set(range(n_page_buckets))
    assert sum(r.page_count for r in rows) == n_pages
    empty = set(range(n_page_buckets)) - {r.bucket for r in rows if r.page_count}
    assert len(empty) >= n_page_buckets - n_pages

    final = read_extracted(spark, out_dir)
    oneshot = extract_spans(docs, media, FIXTURE_CONFIG)
    assert final.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(final).count() == 0

    # the ledger answers per doc bucket, empty buckets included
    ids = {r.doc_id: r.b for r in docs.select(
        "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).alias("b")
    ).collect()}
    assert {r.doc_id for r in committed_doc_ids(spark, out_dir).collect()} == set(ids)
    for b in range(n_buckets):
        got = {r.doc_id for r in committed_doc_ids(spark, out_dir, [b]).collect()}
        assert got == {d for d, db in ids.items() if db == b}, b


def test_rollback_restores_the_idempotency_ledger(spark, corpus, tmp_path):
    """rollback() brings back the old state's idempotency ledger with its
    updates: replaying a batch still committed at that state is a no-op,
    and a batch whose update was rolled back commits again."""
    from bsc_project_spark.pipeline.checkpoint import (
        list_snapshots,
        rollback,
        run_incremental_update,
    )

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    base, batch0, batch1 = (
        docs.filter(F.col("doc_id").isin(part))
        for part in (ids[:2], ids[2:3], ids[3:])
    )
    out_dir = str(tmp_path / "job8")
    run_extraction_job(base, media, FIXTURE_CONFIG, out_dir, n_buckets=2)
    m1 = run_incremental_update(
        batch0, media, FIXTURE_CONFIG, out_dir, idempotency_key="batch-0"
    )
    run_incremental_update(
        batch1, media, FIXTURE_CONFIG, out_dir, idempotency_key="batch-1"
    )

    rb = rollback(out_dir, m1["snapshot_id"])
    assert rb["committed_updates"] == [1]
    assert rb["update_tags"] == {"batch-0": 1}
    n_snaps = len(list_snapshots(out_dir))

    run_incremental_update(
        batch0, media, FIXTURE_CONFIG, out_dir, idempotency_key="batch-0"
    )
    assert len(list_snapshots(out_dir)) == n_snaps

    m = run_incremental_update(
        batch1, media, FIXTURE_CONFIG, out_dir, idempotency_key="batch-1"
    )
    assert m["committed_updates"] == [1, 2]
    assert len(list_snapshots(out_dir)) == n_snaps + 1

    # every document exactly once
    got = read_extracted(spark, out_dir)
    assert {r.doc_id for r in got.select("doc_id").distinct().collect()} == set(ids)
    assert got.groupBy("doc_id", "order").count().where("count > 1").count() == 0

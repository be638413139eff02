"""Checkpoint/resume semantics (SURVEY.md §5.6): kill mid-run, rerun,
assert no duplicate urls and snapshot growth = remaining waves only."""

import pytest
from pyspark.sql import functions as F

from pdf_to_text_spark.plans.checkpoint import ManifestTable, run_resumable_extraction
from pdf_to_text_spark.sources.pages import pages_df

N_ROWS = 120


@pytest.fixture()
def pages(spark):
    return pages_df(spark, N_ROWS, num_partitions=4).cache()


def test_kill_and_resume_no_duplicates(spark, pages, tmp_path):
    table = str(tmp_path / "extracted")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable_extraction(
            spark, pages, table, buckets_per_commit=8, fail_after_commits=2
        )
    mt = ManifestTable(table)
    n_after_crash = len(mt.snapshots())
    assert n_after_crash == 2
    committed_before = mt.committed_buckets()

    # resume: must process ONLY the remaining buckets
    mt2 = run_resumable_extraction(spark, pages, table, buckets_per_commit=8)
    snaps = mt2.snapshots()
    assert len(snaps) == n_after_crash + (32 - len(committed_before) + 7) // 8
    # later snapshots never recommit earlier buckets
    for s in snaps[n_after_crash:]:
        assert not (set(s["buckets"]) & committed_before)

    out = mt2.read(spark)
    dupes = out.groupBy("url").count().where(F.col("count") > 1).count()
    assert dupes == 0
    # full coverage: every deduped input url present exactly once
    want = pages.select("url").distinct().count()
    assert out.count() == want


def _assert_resume_commits_every_url_once(spark, pages, table):
    mt = run_resumable_extraction(spark, pages, table, buckets_per_commit=8)
    out = mt.read(spark)
    dupes = out.groupBy("url").count().where(F.col("count") > 1).count()
    assert dupes == 0
    want = {r["url"] for r in pages.select("url").distinct().collect()}
    assert {r["url"] for r in out.select("url").collect()} == want
    assert out.count() == len(want)


def test_crash_after_wave_files_before_commit(spark, pages, tmp_path, monkeypatch):
    """Wave 2's files are written, then the job dies before its commit:
    the files stay orphaned and the resume commits every url once."""
    from pdf_to_text_spark.plans import checkpoint

    write_wave, waves = checkpoint._write_wave, []

    def write_then_crash(extracted, dest):
        files = write_wave(extracted, dest)
        waves.append(files)
        if len(waves) == 2:
            raise RuntimeError("crash after writing wave 2")
        return files

    table = str(tmp_path / "extracted")
    with monkeypatch.context() as m:
        m.setattr(checkpoint, "_write_wave", write_then_crash)
        with pytest.raises(RuntimeError, match="after writing wave 2"):
            run_resumable_extraction(spark, pages, table, buckets_per_commit=8)
    assert waves[1] and len(ManifestTable(table).snapshots()) == 1
    _assert_resume_commits_every_url_once(spark, pages, table)


def test_crash_after_manifest_link_before_commit_returns(
    spark, pages, tmp_path, monkeypatch
):
    """Wave 2's manifest is linked into place, then the job dies before
    commit returns: the resume treats wave 2 as committed and commits
    every url once."""
    commit, calls = ManifestTable.commit, []

    def commit_then_crash(self, *args, **kwargs):
        calls.append(commit(self, *args, **kwargs))
        if len(calls) == 2:
            raise RuntimeError("crash after linking manifest 2")
        return calls[-1]

    table = str(tmp_path / "extracted")
    with monkeypatch.context() as m:
        m.setattr(ManifestTable, "commit", commit_then_crash)
        with pytest.raises(RuntimeError, match="after linking manifest 2"):
            run_resumable_extraction(spark, pages, table, buckets_per_commit=8)
    assert len(ManifestTable(table).snapshots()) == 2
    _assert_resume_commits_every_url_once(spark, pages, table)


def test_orphan_files_invisible(spark, pages, tmp_path):
    """Snapshot isolation: uncommitted attempt files must not be read."""
    table = str(tmp_path / "extracted")
    mt = run_resumable_extraction(spark, pages, table, buckets_per_commit=16)
    n = mt.read(spark).count()
    # simulate a killed attempt leaving orphan parquet behind
    orphan_dir = mt.data_dir / "attempt-orphan"
    pages.limit(5).write.mode("overwrite").parquet(str(orphan_dir))
    assert mt.read(spark).count() == n  # unchanged


def test_metrics_lineage(spark, pages, tmp_path):
    table = str(tmp_path / "extracted")
    mt = run_resumable_extraction(spark, pages, table, buckets_per_commit=16)
    m = mt.metrics(spark)
    assert {"snapshot_id", "bucket", "docs", "parse_failures", "n_tasks"} <= set(m.columns)
    total_docs = m.agg(F.sum("docs")).collect()[0][0]
    assert total_docs == mt.read(spark).count()


def test_rerun_is_noop(spark, pages, tmp_path):
    table = str(tmp_path / "extracted")
    run_resumable_extraction(spark, pages, table, buckets_per_commit=16)
    mt = ManifestTable(table)
    n_snaps = len(mt.snapshots())
    run_resumable_extraction(spark, pages, table, buckets_per_commit=16)
    assert len(ManifestTable(table).snapshots()) == n_snaps  # nothing to do


def test_custom_n_buckets_metrics_lineage(spark, pages, tmp_path):
    """With a custom n_buckets the output/metrics bucket column must use
    the SAME modulus as the wave filter — it used to be recomputed mod
    N_BUCKETS, so lineage rows didn't correspond to snapshot['buckets']
    (r6 review)."""
    table = str(tmp_path / "extracted64")
    mt = run_resumable_extraction(
        spark, pages, table, n_buckets=64, buckets_per_commit=32
    )
    for s in mt.snapshots():
        wave = set(s["buckets"])
        metric_buckets = {m["bucket"] for m in s["metrics"]}
        assert metric_buckets <= wave, (
            f"metrics buckets {sorted(metric_buckets - wave)} outside the "
            f"committed wave"
        )
    # and the data rows themselves carry mod-64 buckets consistent with
    # their committing snapshot
    out = mt.read(spark)
    assert out.agg(F.max("bucket")).collect()[0][0] > 31  # 64-way spread


def test_commit_race_does_not_clobber(tmp_path):
    """Two writers deriving the same snapshot id: first-committer-wins,
    the loser retries with the next id — a plain rename(2) silently
    REPLACED the first commit (r6 review)."""
    mt = ManifestTable(str(tmp_path / "t"))
    sid0 = mt.commit([0], ["f0"], [])
    # simulate the race: a second writer computed the same id and already
    # linked its manifest into place; our commit must not overwrite it
    race = ManifestTable(str(tmp_path / "t"))
    sid1 = race.commit([1], ["f1"], [])
    assert (sid0, sid1) == (0, 1)
    snaps = mt.snapshots()
    assert [s["buckets"] for s in snaps] == [[0], [1]]
    assert sorted(mt.committed_files()) == ["f0", "f1"]
    # no tmp litter left behind
    assert not list(mt.manifest_dir.glob(".tmp-*"))


def test_commit_conflict_on_same_bucket_is_loud(tmp_path):
    """A retry (or a second resumer) whose wave overlaps an interleaved
    commit must ABORT, not append a duplicate snapshot — blindly
    re-linking committed the same buckets twice and committed_files()
    returned two copies of every row in them (r6 review)."""
    from pdf_to_text_spark.plans.checkpoint import ConcurrentCommitError

    mt = ManifestTable(str(tmp_path / "t"))
    mt.commit([0, 1], ["f0"], [])
    other = ManifestTable(str(tmp_path / "t"))  # second resumer, stale todo
    with pytest.raises(ConcurrentCommitError, match=r"\[1\]"):
        other.commit([1, 2], ["f1"], [])
    # nothing appended; files from the refused wave stay invisible
    assert len(mt.snapshots()) == 1
    assert mt.committed_files() == ["f0"]


def test_commit_survives_snapshot_id_gap(tmp_path):
    """Retention/manual cleanup removed a mid-sequence snapshot: a
    count-derived id collides with the surviving max forever (infinite
    link-retry loop, r6 review); ids must be max(existing)+1."""
    mt = ManifestTable(str(tmp_path / "t"))
    assert mt.commit([0], ["f0"], []) == 0
    assert mt.commit([1], ["f1"], []) == 1
    assert mt.commit([2], ["f2"], []) == 2
    (mt.manifest_dir / "snapshot-000001.json").unlink()  # retention gap
    assert mt.commit([3], ["f3"], []) == 3  # count==2 would collide with id 2
    assert {s["snapshot_id"] for s in mt.snapshots()} == {0, 2, 3}


def test_resume_with_different_n_buckets_is_loud(spark, pages, tmp_path):
    """Bucket ids are relative to their modulus: resuming mod-32 against
    mod-64 manifests silently drops and duplicates rows (r6 review)."""
    table = str(tmp_path / "t64")
    run_resumable_extraction(spark, pages, table, n_buckets=64, buckets_per_commit=64)
    with pytest.raises(ValueError, match="n_buckets=64"):
        run_resumable_extraction(spark, pages, table, n_buckets=32)


def test_commit_conflict_across_moduli_is_loud(tmp_path):
    """Bucket ids only compare within one modulus: a 64-bucket writer's
    wave [32..63] shows no id clash against a 32-bucket writer's
    [0..31] yet overlaps half its rows — the modulus mismatch itself
    must abort the commit (r6 review)."""
    from pdf_to_text_spark.plans.checkpoint import ConcurrentCommitError

    a = ManifestTable(str(tmp_path / "t"))
    a.commit([0, 1], ["fa"], [], n_buckets=32)
    b = ManifestTable(str(tmp_path / "t"))
    with pytest.raises(ConcurrentCommitError, match="n_buckets=64"):
        b.commit([32, 33], ["fb"], [], n_buckets=64)


def test_extraction_plans_launch_no_jobs(spark, pages, tmp_path, monkeypatch):
    """run_extraction, and each checkpoint wave's plan, must stay lazy: no
    Spark job from the start of planning until the wave's write. An eager
    driver-side job there puts a serial stage in front of every kernel
    stage."""
    from pdf_to_text_spark.operators.extraction import dup_url_stats, run_extraction
    from pdf_to_text_spark.plans import checkpoint

    sc = spark.sparkContext

    def jobs(group):
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        sc.setJobGroup("plan", "run_extraction must launch no job")
        run_extraction(pages)
        run_extraction(pages, dedup=False)
        assert jobs("plan") == 0
        dup_url_stats(pages).collect()  # an eager job is seen
        assert jobs("plan") > 0

        per_wave = []
        extract, write_wave = checkpoint.run_extraction, checkpoint._write_wave

        def planned_extract(*args, **kwargs):
            sc.setJobGroup(f"wave{len(per_wave)}", "wave plan")
            return extract(*args, **kwargs)

        def counted_write(extracted, dest):
            per_wave.append(jobs(f"wave{len(per_wave)}"))
            sc.setLocalProperty("spark.jobGroup.id", None)
            return write_wave(extracted, dest)

        monkeypatch.setattr(checkpoint, "run_extraction", planned_extract)
        monkeypatch.setattr(checkpoint, "_write_wave", counted_write)
        run_resumable_extraction(
            spark, pages, str(tmp_path / "t"), buckets_per_commit=16
        )
        assert per_wave == [0, 0]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

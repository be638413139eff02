"""Snapshot-checkpointed, resumable extraction runs.

The north rule requires "resumable from checkpoint with per-partition
lineage + metrics". The reference has the opposite (random UUID keys per
run, src/main.ts:157,241,247 — zero idempotence). The real-cluster design
is an Iceberg table whose snapshot commit IS the checkpoint; no Iceberg
runtime jar exists in this sandbox (verified), so this module emulates the
load-bearing semantics on parquet + JSON manifests:

  * **snapshot isolation** — readers list data files from committed
    manifests, never from the directory, so orphan files written by a
    killed attempt are invisible;
  * **atomic commit** — manifest written to a temp name then rename(2)'d
    into place (POSIX atomic within a filesystem);
  * **idempotent resume** — work is keyed by url-hash bucket; a rerun
    processes only buckets absent from the committed-snapshot union, so a
    kill between commits never duplicates a url (SURVEY.md §5.6 test).

Swapping this for real Iceberg is a write-path change only
(`df.writeTo(...).append()` + `WHERE bucket NOT IN committed`).
"""

from __future__ import annotations

import json
import os
import pathlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import N_BUCKETS
from ..operators.extraction import PAGES_COLS, metrics_rollup, run_extraction
from .layout import with_bucket


class ConcurrentCommitError(RuntimeError):
    """Another writer committed one of this wave's buckets first.

    Raised instead of committing a duplicate: the wave's data files stay
    orphaned (invisible to snapshot-isolated readers), preserving the
    module's "never duplicates a url" invariant. The caller should
    re-derive its todo list from committed_buckets() and re-run."""


class ManifestTable:
    """Parquet data files + JSON snapshot manifests (Iceberg-style)."""

    def __init__(self, path: str):
        self.root = pathlib.Path(path)
        self.data_dir = self.root / "data"
        self.manifest_dir = self.root / "_manifests"
        self.data_dir.mkdir(parents=True, exist_ok=True)
        self.manifest_dir.mkdir(parents=True, exist_ok=True)

    # ── snapshot bookkeeping ────────────────────────────────────────────

    def snapshots(self) -> list[dict]:
        out = []
        for p in sorted(self.manifest_dir.glob("snapshot-*.json")):
            with open(p) as f:
                out.append(json.load(f))
        return out

    def committed_buckets(self) -> set[int]:
        return {b for s in self.snapshots() for b in s["buckets"]}

    def committed_files(self) -> list[str]:
        return [f for s in self.snapshots() for f in s["files"]]

    def commit(
        self,
        buckets: list[int],
        files: list[str],
        metrics: list[dict],
        n_buckets: int | None = None,
    ) -> int:
        """Atomically append snapshot N+1. Returns the snapshot id.

        The id is stamped into the metrics rows HERE — a caller-side
        derivation could drift from this one (and would re-parse every
        prior manifest per wave). `n_buckets` (the modulus the bucket ids
        are relative to) is stamped into the manifest so a resume with a
        different modulus is a loud error, not silent row loss (r6
        review).

        Concurrent-writer safety: the id is max(existing)+1 (count-based
        ids hang forever once retention deletes a mid-sequence snapshot —
        r6 review), so two jobs resuming the same table can race to the
        same id — and a plain rename(2) would silently REPLACE the
        loser's committed manifest, orphaning its data files. The final
        manifest is therefore created with O_EXCL (link-into-place
        semantics): the loser gets FileExistsError, re-derives the next
        id, and retries — first-committer-wins, like Iceberg's
        optimistic commit protocol. Each attempt (including the first)
        RE-VALIDATES that none of this wave's buckets were committed by
        the other writer meanwhile — a retry that blindly re-linked
        would commit the same buckets twice and duplicate every row in
        them (r6 review). Any interleaved commit lands on this
        attempt's target id (both writers saw the same max), so a
        successful link proves the validation read was current."""
        tmp = self.manifest_dir / f".tmp-{uuid.uuid4().hex}.json"
        try:
            while True:
                existing = sorted(self.manifest_dir.glob("snapshot-*.json"))
                snaps = []
                for p in existing:
                    with open(p) as fh:
                        snaps.append(json.load(fh))
                # bucket ids only compare within ONE modulus: a writer on
                # a different n_buckets overlaps every wave without any
                # id clash (third r6 review — two fresh resumers with 32
                # vs 64 would double-commit half the corpus), so a
                # modulus mismatch is itself a conflict
                moduli = {
                    s["n_buckets"] for s in snaps if s.get("n_buckets") is not None
                }
                if n_buckets is not None and moduli - {n_buckets}:
                    raise ConcurrentCommitError(
                        f"table committed under n_buckets={sorted(moduli)} "
                        f"but this writer uses n_buckets={n_buckets}"
                    )
                done = {b for s in snaps for b in s["buckets"]}
                clash = done & set(buckets)
                if clash:
                    raise ConcurrentCommitError(
                        f"buckets {sorted(clash)} were committed by another "
                        f"writer; this wave's files stay orphaned (invisible)"
                    )
                sid = (
                    max(int(p.stem.split("-")[1]) for p in existing) + 1
                    if existing
                    else 0
                )
                payload = {
                    "snapshot_id": sid,
                    "buckets": sorted(buckets),
                    "files": sorted(files),
                    "metrics": [dict(m, snapshot_id=sid) for m in metrics],
                }
                if n_buckets is not None:
                    payload["n_buckets"] = n_buckets
                with open(tmp, "w") as f:
                    json.dump(payload, f)
                    f.flush()
                    os.fsync(f.fileno())
                try:
                    # hard-link then unlink: atomic create-if-absent of the
                    # final name with the fully-fsynced content
                    os.link(tmp, self.manifest_dir / f"snapshot-{sid:06d}.json")
                except FileExistsError:
                    continue  # another writer took this id — revalidate, retry
                return sid
        finally:
            tmp.unlink(missing_ok=True)

    # ── reads (snapshot-isolated) ───────────────────────────────────────

    def read(self, spark: SparkSession) -> DataFrame:
        files = self.committed_files()
        if not files:
            raise FileNotFoundError(f"no committed snapshots under {self.root}")
        return spark.read.parquet(*files)

    def metrics(self, spark: SparkSession) -> DataFrame:
        rows = [m for s in self.snapshots() for m in s["metrics"]]
        return spark.createDataFrame(
            rows,
            "snapshot_id int, bucket int, docs long, pages long, chars long, "
            "parse_failures long, passthrough_docs long, empty_docs long, n_tasks long",
        )


def _write_wave(extracted: DataFrame, dest: pathlib.Path) -> list[str]:
    """Write one wave's output under a unique attempt dir; return file list."""
    attempt_dir = dest / f"attempt-{uuid.uuid4().hex}"
    extracted.write.mode("overwrite").parquet(str(attempt_dir))
    return [str(p) for p in attempt_dir.glob("*.parquet")]


def run_resumable_extraction(
    spark: SparkSession,
    pages: DataFrame,
    table_path: str,
    *,
    n_buckets: int = N_BUCKETS,
    buckets_per_commit: int = 8,
    dedup: bool = True,
    fail_after_commits: int | None = None,
) -> ManifestTable:
    """Extract `pages` into a snapshot-checkpointed table, resuming past
    already-committed buckets.

    `fail_after_commits` injects a crash for the resume test (SURVEY §5.6).
    Each commit wave writes ~1/W of the buckets; building a wave's plan
    launches no Spark job, only its write does. The wave's
    `bucket IN (...)` filter is on a column derived from the url hash, so
    it is not pushed into the scan (`PushedFilters: []`): every wave
    lists and reads every input file, and the filter drops the other
    buckets' rows after the scan. Pruning at the scan needs the input
    laid out by bucket (ROADMAP item 5).
    """
    mt = ManifestTable(table_path)
    # A resume with a different modulus reinterprets old bucket ids under
    # the new one — rows silently dropped AND duplicated (r6 review). The
    # manifests carry the modulus they were committed under; mismatches
    # are a loud error, not a "complete" run that lost data.
    snaps = mt.snapshots()  # one parse serves both checks (r6 review)
    for s in snaps:
        committed_n = s.get("n_buckets")
        if committed_n is not None and committed_n != n_buckets:
            raise ValueError(
                f"resume with n_buckets={n_buckets} but {table_path} was "
                f"committed with n_buckets={committed_n} (snapshot "
                f"{s['snapshot_id']}); bucket ids are not comparable "
                f"across moduli"
            )
    done = {b for s in snaps for b in s["buckets"]}
    todo = [b for b in range(n_buckets) if b not in done]
    # n_buckets MUST reach with_bucket: a custom value against the
    # default-bucketed column would leave buckets >= n_buckets matching
    # no wave filter — silently dropping most of the corpus while the
    # run reports complete (r5 review)
    pages_b = with_bucket(pages.select(*PAGES_COLS), n_buckets=n_buckets)

    commits = 0
    for i in range(0, len(todo), buckets_per_commit):
        wave = todo[i : i + buckets_per_commit]
        subset = pages_b.where(F.col("bucket").isin(wave))
        extracted = run_extraction(
            subset,
            dedup=dedup,  # r5 review: the CLI's --no-dedup reaches here now
            # r6 review: without this the output/metrics bucket column is
            # recomputed mod N_BUCKETS and disagrees with the wave filter
            # above whenever n_buckets is custom — lineage rows would not
            # correspond to snapshot['buckets']
            n_buckets=n_buckets,
        )
        files = _write_wave(extracted, mt.data_dir)
        metrics = [
            r.asDict()
            for r in metrics_rollup(spark.read.parquet(*files)).collect()
        ] if files else []
        mt.commit(wave, files, metrics, n_buckets=n_buckets)
        commits += 1
        if fail_after_commits is not None and commits >= fail_after_commits:
            raise RuntimeError(f"injected failure after {commits} commits")
    return mt

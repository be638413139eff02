"""The repository benchmark: seeded workloads against the engine's public
API on ``local[nproc]``.

    python3 perfbench/run.py --workload extract_crawl --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads (see ``perfbench/LAYERS.md``):

* ``extract_crawl`` — ``run_extraction`` over a pages table to a noop sink;
* ``curate_text`` — ``dedup_corpus`` over extracted text with injected
  duplicates (its traced run also runs and checks
  ``strip_duplicate_lines`` and ``text_profile``).

extract_crawl's traced run also runs the crawl job once: WARC shards
landed to parquet, a resumable extraction that crashes after half its
waves and is resumed, then the records / CSV / JSON / metrics artifacts
written to parquet.

Inputs come from ``--seed`` (``gen.py``); every workload's output is
checked against a Spark-free expectation (``oracle.py``). The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A traced run also writes its
spans to ``.perfbench_work/trace/<workload>-s<seed>[-crawl].jsonl``.
"""

from __future__ import annotations

import os
import time


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other machines since boot, per
    CPU of this one: the ``steal`` column of ``/proc/stat`` over the CPU
    count."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") / os.cpu_count()


def clock() -> float:
    """The benchmark's clock: wall seconds less stolen seconds. On a
    shared host the hypervisor takes a run's CPUs away for 0-15% of its
    wall time, in spells of a minute or more, and every time measured
    over such a spell grows with it; on a machine of its own it is the
    wall clock."""
    return time.perf_counter() - steal_s()


T_START = clock()

import argparse  # noqa: E402
import json  # noqa: E402
import pathlib  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = pathlib.Path.cwd()
WORK = ROOT / ".perfbench_work"
RUN = WORK / "run"
# a single slow rep would be the whole sample: job_s is the median of at
# least three
MIN_REPS = 3
TRACED_REPS = 2  # minimum timed reps in each half of a traced run
# each half of a traced run measures this share of --seconds: its timings
# are not the end-to-end figures, and the crawl pass and the local[1]
# scaling leg come on top
TRACED_SHARE = 0.25
INJECTED = "injected failure after"
DRIVER_MEM = "2g"

RATIOS = ("_skew", "_ratio", "_yield", "_amplification", "_eff", "failed_ops")


def unit_of(name: str) -> str:
    """Unit from the metric name: a ``s`` or ``mb`` word (split on ``.``
    and ``_``) marks seconds or MB; ``docs_per_s`` is a rate."""
    if name == "docs_per_s":
        return "1/s"
    if name.endswith(RATIOS):
        return "ratio"
    words = name.replace(".", "_").split("_")
    if "s" in words:
        return "s"
    if "mb" in words:
        return "MB"
    return "count"


# ── Python worker warm-up (pickled by value: this file runs as __main__) ────


def _warm_batches(batches):
    import pdf_to_text_spark.functions.udfs  # noqa: F401

    for b in batches:
        yield b


# ── sessions ────────────────────────────────────────────────────────────────


class Bench:
    """One benchmark run: sessions, timings, tracer and sampler."""

    def __init__(self, args):
        from perfbench.trace import RssSampler, Tracer

        self.args = args
        self.procs = len(os.sched_getaffinity(0))
        self.tracer = Tracer(enabled=bool(args.trace))
        self.sampler = RssSampler()
        self.spark = None
        self.gen_s = 0.0
        self.cold_s: float | None = None
        self.attempted = 0
        self.failed = 0
        self.mismatches = 0
        self.layer: dict[str, float] = {}
        self.stolen: list[float] = []  # per timed rep, per CPU

    def start(self, cores: int, eventlog: pathlib.Path | None = None):
        from pdf_to_text_spark.config import build_spark

        extra = {
            "spark.local.dir": str(WORK / "tmp" / "spark-local"),
            "spark.sql.warehouse.dir": str(RUN / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if eventlog is not None:
            shutil.rmtree(eventlog, ignore_errors=True)
            eventlog.mkdir(parents=True)
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": str(eventlog),
                          "spark.eventLog.compress": "false"})
        spark = build_spark("perfbench", master=f"local[{cores}]", extra=extra)
        spark.sparkContext.setLogLevel("ERROR")
        # the Arrow UDF workers the workloads use, one per core
        spark.range(0, cores, 1, cores).mapInPandas(_warm_batches, "id long").collect()
        if cores == self.procs and self.cold_s is None:
            # the cold start: process start until the first session is ready
            self.cold_s = clock() - T_START - self.gen_s
        self.spark = spark
        return spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.catalog.clearCache()
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, the driver JVM and its Python workers; wait for
        every process this run started to exit."""
        import signal
        import subprocess

        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.sampler.sample()
        self.sampler.stop()
        if not self.sampler.wait_gone(30):
            for pid in self.sampler.alive():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            if not self.sampler.wait_gone(10):
                print("perfbench: child processes still alive", file=sys.stderr)

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    # ── the timed loop ──────────────────────────────────────────────────

    def _op(self, group: str, fn, *args) -> float | None:
        """One workload call under job group `group`: its wall time, or
        None when it raised (counted as a failed op; the run goes on)."""
        self.attempted += 1
        self.group(group)
        t0 = clock()
        try:
            fn(*args)
        except Exception:  # noqa: BLE001
            self.failed += 1
            traceback.print_exc()
            return None
        return clock() - t0

    def timed_reps(self, wl, seconds: float, min_reps: int) -> list[float]:
        """The workload's warm-up and its untimed reps, then timed reps
        while the next is expected to end within `seconds`, and at least
        `min_reps`. Returns the wall times of the successful timed reps;
        the sampler keeps each timed rep's peak RSS."""
        # traced runs record spans and event-log metrics of timed reps only
        traced, self.tracer.enabled = self.tracer.enabled, False
        self._op("warmup", wl.warmup)
        for _ in range(wl.warmup_reps):
            self._op("warmup", wl.rep, 0)
        self.tracer.enabled = traced
        # the time limit is on the wall clock, which bounds the run's length
        t_end = time.perf_counter() + seconds
        times: list[float] = []
        for k in range(1, 1 << 30):
            self.sampler.begin()
            t0, s0 = time.perf_counter(), steal_s()
            dt = self._op(f"rep{k}", wl.rep, k)
            wall = time.perf_counter() - t0
            self.stolen.append(steal_s() - s0)
            self.sampler.end()
            if dt is not None:
                times.append(dt)
            if k >= min_reps and (not times or time.perf_counter() + wall > t_end):
                return times


# ── single-process kernel replay (no Spark) ─────────────────────────────────


def kernel_replay(rows: list[tuple], files: int) -> dict:
    """``udfs.extract_batches`` over `rows` (url, warc_ts, html, text,
    lang) in one process, fed in Arrow-sized batches per input file, with
    the public PDF/HTML kernels wrapped to time them."""
    import pandas as pd

    from pdf_to_text_spark.config import ARROW_MAX_RECORDS_PER_BATCH
    from pdf_to_text_spark.functions import udfs

    m = {k: 0.0 for k in ("pdf.docs", "pdf.mb", "pdf.busy_s", "pdf.mega_busy_s",
                          "html.docs", "html.mb", "html.busy_s", "udfs.batches")}
    statuses: dict[str, int] = {}
    orig_pdf, orig_html = udfs.extract_pdf_text, udfs.extract_html_text

    def timed(orig, kind):
        def call(data, *a, **kw):
            t0 = clock()
            try:
                return orig(data, *a, **kw)
            finally:
                dt = clock() - t0
                m[f"{kind}.busy_s"] += dt
                m[f"{kind}.docs"] += 1
                m[f"{kind}.mb"] += len(data) / (1 << 20)
                if kind == "pdf" and len(data) > (512 << 10):
                    m["pdf.mega_busy_s"] += dt
        return call

    udfs.extract_pdf_text = timed(orig_pdf, "pdf")
    udfs.extract_html_text = timed(orig_html, "html")
    cols = ["url", "warc_ts", "html", "text", "lang"]
    per_file = -(-len(rows) // files) if rows else 0
    batches = []
    for f in range(files if rows else 0):
        part = rows[f * per_file:(f + 1) * per_file]
        for s in range(0, len(part), ARROW_MAX_RECORDS_PER_BATCH):
            batches.append(pd.DataFrame(part[s:s + ARROW_MAX_RECORDS_PER_BATCH],
                                        columns=cols))
    try:
        t0 = clock()
        for out in udfs.extract_batches(iter(batches)):
            for ctype, status in zip(out["content_type"], out["parse_status"]):
                if ctype == "application/pdf":
                    statuses[status] = statuses.get(status, 0) + 1
        busy = clock() - t0
    finally:
        udfs.extract_pdf_text, udfs.extract_html_text = orig_pdf, orig_html
    m["udfs.batches"] = len(batches)
    m["udfs.busy_s"] = busy if rows else 0.0
    m["udfs.overhead_s"] = (busy - m["pdf.busy_s"] - m["html.busy_s"]) if rows else 0.0
    for s in PDF_STATUSES:
        m[f"pdf.status.{s}"] = statuses.get(s, 0)
    return m


PDF_STATUSES = ("ok", "encrypted", "unsupported_cmap", "parse_failed")


def pq_rows(path: pathlib.Path | str, columns: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(str(path), columns=columns)
    return list(zip(*[t.column(c).to_pylist() for c in columns]))


def pq_file_rows(path: pathlib.Path) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def pq_count(path: pathlib.Path) -> int:
    return sum(pq_file_rows(p) for p in path.glob("*.parquet"))


def dir_mb(path: pathlib.Path, pattern: str) -> float:
    return sum(p.stat().st_size for p in path.glob(pattern)) / (1 << 20)


# ── workloads ───────────────────────────────────────────────────────────────


class Workload:
    """A workload: an untimed `warmup`, the timed `rep`, `check`
    (mismatching output rows) and the traced run's hooks."""

    name = ""
    warmup_reps = 2  # untimed reps after `warmup`

    def __init__(self, bench: Bench):
        self.b = bench

    def traced_extras(self) -> None:
        """Per-layer measurements made after the traced reps."""

    def event_metrics(self, log, n_reps: int) -> None:
        """Per-layer metrics from the Spark event log of `n_reps` reps."""

    def replay_rows(self) -> list[tuple]:
        """Rows the single-process kernel replay extracts."""
        return []


class ExtractCrawl(Workload):
    name = "extract_crawl"
    # a session's extraction reps keep getting faster over the first six
    # or so (2.7 s down to 2.4 s at local[4])
    warmup_reps = 4

    def __init__(self, bench: Bench, inputs):
        super().__init__(bench)
        self.inputs = inputs
        self.path = inputs.pages_path()
        self.n_docs = len(inputs.rows)
        self.expected = inputs.expected_by_url()
        self.bad = 0

    def rep(self, _k: int, path: str | None = None) -> None:
        from pdf_to_text_spark.operators.extraction import run_extraction

        tr = self.b.tracer
        pages = self.b.spark.read.parquet(path or self.path)
        with tr.span("extraction.plan"):
            ex = run_extraction(pages)
        with tr.span("extraction.execute"):
            ex.write.format("noop").mode("overwrite").save()

    def warmup(self) -> None:
        """The warm-up rep collects the output digests the check uses."""
        from pdf_to_text_spark.operators.extraction import run_extraction

        from perfbench.oracle import check_extracted, extraction_digest_cols

        ex = run_extraction(self.b.spark.read.parquet(self.path))
        rows = ex.select(*extraction_digest_cols(), "partition_id").collect()
        mega: dict[int, int] = {}
        for r in rows:
            if r["n_pages"] == 100:
                mega[r["partition_id"]] = mega.get(r["partition_id"], 0) + 1
        self.b.layer["layout.mega_docs_max_per_task"] = max(mega.values(), default=0)
        self.b.layer["extraction.rows_dropped"] = self.n_docs - len(rows)
        self.bad = check_extracted([tuple(r)[:4] for r in rows], self.expected)

    def check(self) -> int:
        return self.bad

    def traced_extras(self) -> None:
        from pdf_to_text_spark.operators.extraction import PAGES_COLS, dup_url_stats

        b, spark, layer = self.b, self.b.spark, self.b.layer
        b.group("extra.scan")
        t0 = clock()
        spark.read.parquet(self.path).select(*PAGES_COLS).write.format(
            "noop").mode("overwrite").save()
        layer["scan.s"] = clock() - t0
        b.group("extra.dups")
        layer["extraction.dup_urls"] = dup_url_stats(spark.read.parquet(self.path)).count()
        layer["extraction.dup_stats_s"] = statistics.median(
            b.tracer.durations("extraction.plan"))

    def event_metrics(self, log, n_reps: int) -> None:
        layer = self.b.layer
        stages = log.heaviest_stages("rep")
        stats = [log.stage_stats(s, self.b.procs) for s in stages]
        if stats:
            med = lambda k: statistics.median(st[k] for st in stats)  # noqa: E731
            layer["layout.kernel_partitions"] = med("tasks")
            for k in ("task_s_p50", "task_s_max", "task_skew", "input_mb_skew",
                      "busy_ratio"):
                layer[f"kstage.{k}"] = med(k)
        # the files the kernel job's scan lists (Spark's task input bytes
        # miss what the Arrow feeder thread reads)
        layer["scan.mb"] = max(log.scan_mbs(lambda g: g.startswith("rep")), default=0.0)

    def replay_rows(self) -> list[tuple]:
        return [r[1:6] for r in self.inputs.rows]

    def scaling(self) -> None:
        """docs/s at local[1] on the same files, against the median
        local[nproc] rep measured earlier in this run."""
        b = self.b
        b.start(1)
        try:
            b.group("scale.warm")
            first = sorted(pathlib.Path(self.path).glob("*.parquet"))[0]
            self.rep(0, path=str(first))
            b.group("scale.rep")
            t0 = clock()
            self.rep(1)
            one = self.n_docs / (clock() - t0)
        finally:
            b.stop()
        b.layer["scaling_eff"] = b.layer["_docs_per_s_n"] / (b.procs * one)


class CrawlJob:
    """The production crawl job, run once by extract_crawl's traced run:
    WARC shards landed to parquet, ``run_resumable_extraction`` crashed
    after FAIL_AFTER commits and resumed, then the records / CSV / JSON /
    metrics artifacts written to parquet."""

    FAIL_AFTER = 2  # commits before the injected crash: half the 4 waves

    def __init__(self, bench: Bench, inputs):
        self.b = bench
        self.warc = inputs.warc_path()
        rows = inputs.crawl_rows()
        self.expected = inputs.expected_by_url(rows, with_payload_only=True)
        self.expected_csv = inputs.expected_csv(rows, with_payload_only=True)
        self.out = RUN / "crawl"
        self.resume_s = 0.0
        self.waves = 0

    def run(self) -> None:
        from pdf_to_text_spark.pipeline import artifacts_from_extracted
        from pdf_to_text_spark.plans.checkpoint import run_resumable_extraction
        from pdf_to_text_spark.sources.warc import warc_pages

        spark, tr, out = self.b.spark, self.b.tracer, self.out
        shutil.rmtree(out, ignore_errors=True)
        with tr.span("warc.land"):
            warc_pages(spark, self.warc).write.parquet(str(out / "pages"))
        pages = spark.read.parquet(str(out / "pages"))
        table = str(out / "table")
        with tr.span("checkpoint.run"):
            try:
                run_resumable_extraction(spark, pages, table,
                                         fail_after_commits=self.FAIL_AFTER)
                raise AssertionError("the injected crash did not happen")
            except RuntimeError as e:
                if INJECTED not in str(e):
                    raise
        t0 = clock()
        with tr.span("checkpoint.run"):
            mt = run_resumable_extraction(spark, pages, table)
        self.resume_s = clock() - t0
        art = artifacts_from_extracted(mt.read(spark))
        for name in ("records", "csv_docs", "json_docs", "metrics"):
            with tr.span(f"records.write.{name}"):
                art[name].write.parquet(str(out / name))

    def check(self) -> int:
        from pdf_to_text_spark.plans.checkpoint import ManifestTable

        from perfbench.oracle import MD5, check_csv, check_extracted

        mt = ManifestTable(str(self.out / "table"))
        rows = []
        for f in mt.committed_files():
            rows += pq_rows(f, ["url", "extracted_text", "n_pages", "parse_status"])
        urls = [r[0] for r in rows]
        self.b.layer["checkpoint.dup_urls"] = len(urls) - len(set(urls))
        bad = check_extracted([(u, MD5(t), p, s) for u, t, p, s in rows], self.expected)
        csv = pq_rows(self.out / "csv_docs", ["url", "csv"])
        bad += check_csv([(u, MD5(c)) for u, c in csv], self.expected_csv)
        want_records = sum(n for _, n in self.expected_csv.values())
        bad += abs(pq_count(self.out / "records") - want_records)
        return bad

    def traced_extras(self) -> None:
        from pdf_to_text_spark.operators.records import blocks_df
        from pdf_to_text_spark.plans.checkpoint import ManifestTable

        b, layer, tr = self.b, self.b.layer, self.b.tracer
        layer["warc.records"] = pq_count(self.out / "pages")
        layer["warc.mb"] = dir_mb(pathlib.Path(self.warc), "*.warc.gz")
        layer["warc.land_s"] = statistics.median(tr.durations("warc.land"))
        mt = ManifestTable(str(self.out / "table"))
        committed = set(mt.committed_files())
        orphans = [p for p in (self.out / "table" / "data").rglob("*.parquet")
                   if str(p) not in committed]
        layer["checkpoint.redo_docs"] = sum(pq_file_rows(p) for p in orphans)
        layer["checkpoint.commits"] = len(mt.snapshots())
        layer["records.rows"] = pq_count(self.out / "records")
        layer["records.csv_docs"] = pq_count(self.out / "csv_docs")
        layer["resume_s"] = self.resume_s
        b.group("extra.blocks")
        layer["records.blocks"] = blocks_df(mt.read(b.spark)).count()

    def event_metrics(self, log) -> None:
        layer, tr = self.b.layer, self.b.tracer
        waves = tr.durations("checkpoint.wave")
        layer["checkpoint.waves"] = len(waves)
        layer["checkpoint.wave_s_p50"] = statistics.median(waves) if waves else 0.0
        layer["checkpoint.commit_s"] = sum(tr.durations("checkpoint.commit"))
        # every wave's write job scans the landed pages: the files its
        # scan lists, over the table's size
        scanned = sum(log.scan_mbs(lambda g: ".wave" in g))
        layer["checkpoint.scan_amplification"] = scanned / dir_mb(
            self.out / "pages", "*.parquet")
        for name in ("records", "csv_docs", "json_docs", "metrics"):
            d = tr.durations(f"records.write.{name}")
            layer[f"records.write_s.{name}"] = statistics.median(d) if d else 0.0

    def instrument(self) -> None:
        """Wrap the checkpoint layer's inner calls: each wave gets its own
        job group (for the scan amplification) and span."""
        from pdf_to_text_spark.plans import checkpoint

        b, tr = self.b, self.b.tracer
        tr.wrap(checkpoint.ManifestTable, "commit", "checkpoint.commit")
        tr.wrap(checkpoint, "run_extraction", "extraction.plan")
        orig = checkpoint._write_wave

        def write_wave(extracted, dest):
            self.waves += 1
            sc = b.spark.sparkContext
            prev = sc.getLocalProperty("spark.jobGroup.id")
            b.group(f"{prev}.wave{self.waves}")
            try:
                with tr.span("checkpoint.wave"):
                    return orig(extracted, dest)
            finally:
                b.group(prev or "")

        tr.patch(checkpoint, "_write_wave", write_wave)


class CurateText(Workload):
    name = "curate_text"
    # with `warmup`: the first three dedup_corpus calls of a session run
    # 1.5-3x slower than the later ones
    warmup_reps = 2

    def __init__(self, bench: Bench, inputs):
        super().__init__(bench)
        self.inputs = inputs
        self.docs = inputs.curation_docs()
        self.path = inputs.docs_path(self.docs)
        self.n_docs = len(self.docs)
        self.last: pathlib.Path | None = None

    def warmup(self) -> None:
        self.rep(0)

    def rep(self, k: int) -> None:
        """The timed op: the exact + MinHash-LSH keep-list."""
        from pdf_to_text_spark.operators.dedup import dedup_corpus

        spark = self.b.spark
        spark.catalog.clearCache()
        out = RUN / "curate" / f"rep{k}"
        shutil.rmtree(out, ignore_errors=True)
        with self.b.tracer.span("dedup.corpus"):
            dedup_corpus(spark.read.parquet(self.path)).write.parquet(str(out / "keep"))
        if self.last not in (None, out):
            shutil.rmtree(self.last, ignore_errors=True)
        self.last = out

    def check(self) -> int:
        """The keep-list against its replay, plus the base docs whose
        extracted text is not the expected one."""
        from perfbench import oracle

        reason, _ = oracle.expected_dedup(self.docs, sig_of=self.inputs.signature)
        bad = oracle.check_dedup(pq_rows(self.last / "keep", ["doc_id", "keep", "reason"]),
                                 reason, self.docs)
        return bad + self.inputs.curate_mismatch

    def traced_extras(self) -> None:
        """The dedup layer's parts, and line dedup and the text profile
        (timed, and their outputs checked)."""
        from pdf_to_text_spark.kernels.textstats import minhash_signature
        from pdf_to_text_spark.operators import dedup
        from pdf_to_text_spark.operators.text_analysis import text_profile

        from perfbench import oracle

        b, layer, spark = self.b, self.b.layer, self.b.spark
        t0 = clock()
        for _, text, _ in self.docs:
            minhash_signature(text or "")
        layer["textstats.minhash_busy_s"] = clock() - t0
        docs = spark.read.parquet(self.path)
        b.group("extra.exact")
        layer["dedup.exact_groups"] = dedup.dedup_exact_groups(docs).count()
        survivors = dedup.dedup_exact(docs).select("doc_id", "text")
        b.group("extra.sig")
        t0 = clock()
        sigs = dedup.minhash_signatures(survivors).persist()
        sigs.count()
        layer["dedup.sig_s"] = clock() - t0
        b.group("extra.pairs")
        cand = dedup.minhash_candidate_pairs(sigs).count()
        verified = dedup._verify_candidate_pairs(sigs, 0.5, dedup.DEFAULT_MAX_BUCKET).count()
        capped = dedup.minhash_band_bucket_stats(sigs).collect()[0]["oversized_buckets"]
        sigs.unpersist()
        layer["dedup.candidate_pairs"] = cand
        layer["dedup.verified_pairs"] = verified
        layer["dedup.verify_yield"] = verified / cand if cand else 0.0
        layer["dedup.capped_buckets"] = capped
        out = RUN / "curate" / "extras"
        shutil.rmtree(out, ignore_errors=True)
        b.group("extra.lines")
        t0 = clock()
        dedup.strip_duplicate_lines(docs).write.parquet(str(out / "lines"))
        layer["dedup.line_dedup_s"] = clock() - t0
        b.group("extra.profile")
        t0 = clock()
        text_profile(docs).select("doc_id", "chars", "words").write.parquet(
            str(out / "profile"))
        layer["profile.s"] = clock() - t0
        lines, layer["dedup.lines_dropped"] = oracle.expected_line_dedup(self.docs)
        b.mismatches += oracle.check_text_by_id(
            [(d, oracle.MD5(t)) for d, t in pq_rows(out / "lines", ["doc_id", "text"])],
            lines)
        b.mismatches += oracle.check_profile(
            pq_rows(out / "profile", ["doc_id", "chars", "words"]), self.docs)


WORKLOADS = {w.name: w for w in (ExtractCrawl, CurateText)}

SPANS = ("extraction.plan", "extraction.execute", "warc.land", "checkpoint.run",
         "checkpoint.wave", "checkpoint.commit", "records.write.records",
         "records.write.csv_docs", "records.write.json_docs", "records.write.metrics",
         "dedup.corpus")

PER_LAYER = (
    "warc.records", "warc.mb", "warc.land_s",
    "scan.mb", "scan.s",
    "extraction.dup_stats_s", "extraction.dup_urls", "extraction.rows_dropped",
    "udfs.batches", "udfs.busy_s", "udfs.overhead_s",
    "pdf.docs", "pdf.mb", "pdf.busy_s", "pdf.mega_busy_s",
    *[f"pdf.status.{s}" for s in PDF_STATUSES],
    "html.docs", "html.mb", "html.busy_s",
    "layout.kernel_partitions", "layout.mega_docs_max_per_task",
    "kstage.task_s_p50", "kstage.task_s_max", "kstage.task_skew",
    "kstage.input_mb_skew", "kstage.busy_ratio",
    "checkpoint.waves", "checkpoint.commits", "checkpoint.commit_s",
    "checkpoint.wave_s_p50", "checkpoint.scan_amplification",
    "checkpoint.redo_docs", "checkpoint.dup_urls",
    "records.blocks", "records.rows", "records.csv_docs",
    "records.write_s.records", "records.write_s.csv_docs",
    "records.write_s.json_docs", "records.write_s.metrics",
    "dedup.exact_groups", "dedup.sig_s", "dedup.candidate_pairs",
    "dedup.verified_pairs", "dedup.verify_yield", "dedup.capped_buckets",
    "dedup.line_dedup_s", "dedup.lines_dropped", "profile.s",
    "textstats.minhash_busy_s",
    "shuffle.write_mb", "shuffle.read_mb", "spill_mb", "gc_s",
    "rss.jvm_mb", "rss.py_workers_mb", "rss.driver_mb",
    "resume_s", "scaling_eff", "host.stolen_s",
    "trace.job_s_untraced", "trace.job_s_traced", "trace.overhead_s",
    *[f"self.{s}_s" for s in SPANS],
    "check.mismatch_rows", "check.failed_ops",
)


# ── the run ─────────────────────────────────────────────────────────────────


def traced_run(bench: Bench, wl, inputs, seconds: float) -> list[float]:
    """The per-layer run: an untraced half (the baseline of the tracing
    overhead), then a traced half with spans and the Spark event log,
    then the Spark-free kernel replay. extract_crawl's traced run also
    runs the crawl job once, with runtime wrappers, for the WARC,
    checkpoint and records layers."""
    from perfbench import gen
    from perfbench.trace import EventLog, Tracer

    layer = bench.layer
    bench.tracer.enabled = False
    bench.start(bench.procs)
    plain = bench.timed_reps(wl, seconds * TRACED_SHARE, TRACED_REPS)
    bench.stop()
    if not plain:
        return plain
    layer["trace.job_s_untraced"] = statistics.median(plain)
    layer["_docs_per_s_n"] = wl.n_docs / statistics.median(plain)

    bench.tracer = tracer = Tracer(enabled=True)
    log_dir = RUN / "eventlog"
    bench.start(bench.procs, eventlog=log_dir)
    times = bench.timed_reps(wl, seconds * TRACED_SHARE, TRACED_REPS)
    if not times:
        bench.stop()
        return times
    bench.mismatches = wl.check()
    wl.traced_extras()
    self_s = {s: tracer.self_time(s) / len(times) for s in SPANS}
    tracer.dump(WORK / "trace" / f"{wl.name}-s{bench.args.seed}.jsonl")
    crawl = None
    if isinstance(wl, ExtractCrawl):
        crawl = CrawlJob(bench, inputs)
        bench.tracer = Tracer(enabled=True)
        crawl.instrument()
        ran = bench._op("crawl", crawl.run) is not None
        bench.tracer.unwrap_all()
        if ran:
            bench.mismatches += crawl.check()
            crawl.traced_extras()
        for s in SPANS:
            self_s[s] = self_s[s] or bench.tracer.self_time(s)
        bench.tracer.dump(WORK / "trace" / f"{wl.name}-s{bench.args.seed}-crawl.jsonl")
    bench.stop()

    log = EventLog(log_dir)
    wl.event_metrics(log, len(times))
    if crawl is not None:
        crawl.event_metrics(log)
    tot = log.totals("rep")
    for k in ("shuffle.write_mb", "shuffle.read_mb", "spill_mb", "gc_s"):
        layer[k] = tot[k] / len(times)
    layer.update(kernel_replay(wl.replay_rows(), gen.PAGE_FILES))
    if isinstance(wl, ExtractCrawl):
        wl.scaling()
    layer["trace.job_s_traced"] = statistics.median(times)
    layer["trace.overhead_s"] = layer["trace.job_s_traced"] - layer["trace.job_s_untraced"]
    layer.update({f"self.{s}_s": v for s, v in self_s.items()})
    return times


def run(args) -> dict:
    from perfbench import gen

    bench = Bench(args)
    t0 = clock()
    inputs = gen.Inputs(args.seed, bench.procs)
    wl = WORKLOADS[args.workload](bench, inputs)
    gen.prune_inputs()
    bench.gen_s = clock() - t0
    bench.sampler.set_base()
    bench.sampler.start()
    try:
        if args.trace:
            times = traced_run(bench, wl, inputs, args.seconds)
        else:
            bench.start(bench.procs)
            times = bench.timed_reps(wl, args.seconds, MIN_REPS)
            if times:
                bench.mismatches = wl.check()
            bench.stop()
    finally:
        bench.shutdown()

    if not times:
        raise RuntimeError("no timed repetition succeeded")
    job_s = statistics.median(times)
    peaks = bench.sampler.median_peaks()
    if not args.trace:
        values = {
            "setup_s": bench.cold_s,
            "job_s": job_s,
            "docs_per_s": wl.n_docs / job_s,
            "peak_rss_mb": peaks[0],
        }
    else:
        layer = bench.layer
        layer["rss.jvm_mb"], layer["rss.py_workers_mb"], layer["rss.driver_mb"] = peaks[1:]
        layer["check.mismatch_rows"] = bench.mismatches
        layer["host.stolen_s"] = statistics.median(bench.stolen)
        layer["check.failed_ops"] = bench.failed / bench.attempted
        values = {k: float(layer.get(k, 0.0)) for k in PER_LAYER}
    print(f"perfbench: {args.workload} seed={args.seed} reps={len(times)} "
          f"mismatch_rows={bench.mismatches} failed={bench.failed} "
          f"rep_s={[round(t, 3) for t in times]} "
          f"stolen_s={[round(t, 2) for t in bench.stolen]} "
          f"setup_s={bench.cold_s:.3f} gen_s={bench.gen_s:.2f} "
          f"rss_mb={[round(p) for p in peaks]}",
          file=sys.stderr)
    return {
        "correct": bench.mismatches == 0 and bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "pdf_to_text_spark" / "__init__.py").exists():
        print("perfbench: run from the repository root (pdf_to_text_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # every scratch file of this run (Python, Spark, the JVM) stays in
    # the checkout; a run clears what earlier runs left there
    shutil.rmtree(WORK / "tmp", ignore_errors=True)
    (WORK / "tmp" / "spark-local").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "tmp" / "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # build_spark's driver heap, sized for a 4-core box: with its 8g
    # default the JVM's resident size follows GC heap growth, which varies
    # from run to run
    os.environ["PTS_DRIVER_MEM"] = DRIVER_MEM
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Seeded input generator and the Spark-free expectation pool.

Inputs are cut from a fixed *pool* of ``POOL_IDS`` corpus ids built with
the repo's own row generator (``sources.pages.build_pages_pdf``: ~66%
HTML, ~33% PDF incl. 100-page mega PDFs, 2% duplicate urls). Every pool
row also carries its extracted text, replayed in plain Python through
the public kernels (``oracle.expected_row``): the curation corpus is made
of it. The pool is built once per checkout, in parallel, and cached
under ``.perfbench_work/pool-<key>``; its key covers the pool size,
``PAGES_GEN`` and a digest of the generator's sources only.

The outputs are checked against ``expected.tsv``, committed next to this
file: per pool row the digest of its extracted text, its page count and
``parse_status``, and the digest and record count of its CSV document,
all taken from the kernels of the commit that added the benchmark
(``python3 -m perfbench.gen --write-expected`` rewrites it, and only a
change to the generator should need that). A kernel change that alters
any output therefore fails the check instead of being compared with
itself.

A seed selects a cyclic window of ``WINDOW_IDS`` consecutive pool ids
whose start is a multiple of 300 (the period of the corpus' mega-PDF,
PDF and duplicate-url slices), so every seed gets the same mix and the
same number of mega PDFs but different urls and texts. The per-seed
files are cached under the pool's ``inputs/s<seed>-n<size>`` and their
layout depends on the seed and the size only, never on the core count:
``PAGE_FILES`` parquet files of consecutive rows, ``WARC_SHARDS``
``.warc.gz`` shards, and a curation ``documents`` table with a seeded
share of injected exact and near duplicates.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import pathlib
import random
import shutil

POOL_IDS = 5400
WINDOW_IDS = 2700
SLICE_PERIOD = 300
# the crawl pass and curate_text take the first CRAWL_IDS / CURATE_IDS ids
# of the window: their per-job overheads, not the kernel, set their time
CRAWL_IDS = 900
CURATE_IDS = 900
# one file per kernel task at local[4]: Spark packs small files into
# splits by size, so more files would group differently from seed to seed
PAGE_FILES = 4
WARC_SHARDS = 8
DOC_FILES = 4
# injected duplicates in the curation corpus, as shares of its base docs
EXACT_DUP_SHARE = 0.04
NEAR_DUP_SHARE = 0.04
# a near dup replaces one word in NEAR_EVERY of a text of at least
# NEAR_MIN_WORDS words: 5-shingle Jaccard ~0.88, far above the 0.5 cut
NEAR_EVERY = 80
NEAR_MIN_WORDS = 200

ROOT = pathlib.Path.cwd()
WORK = ROOT / ".perfbench_work"
EXPECTED = pathlib.Path(__file__).with_name("expected.tsv")
EXPECTED_COLS = ["id", "warc_ts_us", "text_md5", "n_pages", "parse_status",
                 "csv_md5", "n_records"]
_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)

POOL_COLS = ["id", "url", "warc_ts", "html", "text", "lang",
             "exp_text", "exp_pages", "exp_status", "exp_sig"]


def _source_digest() -> str:
    """Digest of the generator's sources: a changed generator in the same
    checkout rebuilds the pool."""
    h = hashlib.sha256()
    files = [ROOT / "pdf_to_text_spark" / "sources" / "pages.py"]
    files += sorted((ROOT / "tools").glob("make_*.py"))
    files += [pathlib.Path(__file__)]
    for p in files:
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def _pool_chunk(ids: list[int]) -> list[tuple]:
    """Worker: generate rows for `ids` and replay the kernels on them."""
    from pdf_to_text_spark.sources.pages import build_pages_pdf

    from pdf_to_text_spark.kernels.textstats import minhash_signature

    from perfbench.oracle import expected_row

    out = []
    for row in build_pages_pdf(ids).itertuples(index=False, name=None):
        url, ts, html, text, lang = row
        html = None if html is None else bytes(html)
        text = None if text is None or text != text else text
        exp_text, exp_pages, exp_status = expected_row(url, html, text)
        sig = minhash_signature(exp_text).tobytes() if exp_text else None
        rid = int(url.rsplit("/", 1)[1].split("-")[0].split(".")[0])
        out.append((rid, url, ts.to_pydatetime(), html, text, lang,
                    exp_text, exp_pages, exp_status, sig))
    return out


def _write_table(rows: list[tuple], cols: list[str], path: pathlib.Path,
                 n_files: int) -> None:
    """Rows → `n_files` zstd parquet files of consecutive rows (one row
    group each), written atomically via a temp dir."""
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    _write_files(rows, cols, tmp, "part", n_files)
    shutil.rmtree(path, ignore_errors=True)
    tmp.rename(path)


def _write_files(rows: list[tuple], cols: list[str], d: pathlib.Path,
                 prefix: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    per = -(-len(rows) // n_files)
    for k in range(n_files):
        part = rows[k * per:(k + 1) * per]
        table = pa.Table.from_pylist([dict(zip(cols, r)) for r in part],
                                     schema=_schema(cols))
        pq.write_table(table, d / f"{prefix}-{k:05d}.parquet",
                       compression="zstd", row_group_size=max(1, len(part)))


def _schema(cols: list[str]):
    import pyarrow as pa

    types = {
        "id": pa.int64(), "doc_id": pa.int64(), "url": pa.string(),
        "warc_ts": pa.timestamp("us", tz="UTC"), "html": pa.binary(),
        "text": pa.string(), "lang": pa.string(), "exp_text": pa.string(),
        "exp_pages": pa.int32(), "exp_status": pa.string(),
        "exp_sig": pa.binary(),
    }
    return pa.schema([(c, types[c]) for c in cols])


def pool_dir() -> pathlib.Path:
    from pdf_to_text_spark.sources.pages import PAGES_GEN

    return WORK / f"pool-n{POOL_IDS}-g{PAGES_GEN}-{_source_digest()}"


def ensure_pool(procs: int) -> pathlib.Path:
    """Build (once) the generated pool with its expectations: `procs`
    worker processes each write the part of the pool ids ≡ k mod procs."""
    d = pool_dir()
    if (d / "_SUCCESS").exists():
        return d
    import subprocess
    import sys

    shutil.rmtree(d, ignore_errors=True)
    (d / "rows").mkdir(parents=True)
    workers = [subprocess.Popen([sys.executable, "-m", "perfbench.gen", str(d),
                                 str(k), str(procs)], cwd=ROOT)
               for k in range(procs)]
    codes = [w.wait() for w in workers]
    if any(codes):
        raise RuntimeError(f"pool generation failed: exit codes {codes}")
    (d / "_SUCCESS").write_text("ok\n")
    for old in WORK.glob("pool-*"):
        if old != d:
            shutil.rmtree(old, ignore_errors=True)
    return d


def _pool_part(d: pathlib.Path, k: int, procs: int) -> None:
    step = 60
    rows = []
    for s in range(k * step, POOL_IDS, procs * step):
        rows += _pool_chunk(list(range(s, min(s + step, POOL_IDS))))
    _write_files(rows, POOL_COLS, d / "rows", f"part-{k:03d}", 1)


def load_pool(d: pathlib.Path) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(d / "rows")
    cols = [t.column(c).to_pylist() for c in POOL_COLS]
    return sorted(zip(*cols), key=lambda r: (r[0], r[2]))


def ts_us(ts: datetime.datetime) -> int:
    return (ts - _EPOCH) // datetime.timedelta(microseconds=1)


def write_expected() -> None:
    """Write ``expected.tsv`` from the pool: one line per pool row, in
    pool order. Run it on the commit whose outputs are the reference."""
    from perfbench.oracle import DIGEST, records_csv

    lines = ["\t".join(EXPECTED_COLS)]
    for r in load_pool(ensure_pool(len(os.sched_getaffinity(0)))):
        csv, n_records = records_csv(r[6])
        lines.append("\t".join(str(v) for v in (
            r[0], ts_us(r[2]), DIGEST(r[6]), r[7], r[8], DIGEST(csv), n_records)))
    EXPECTED.write_text("\n".join(lines) + "\n")


def load_expected() -> dict:
    """(id, warc_ts_us) → (text_md5, n_pages, parse_status, csv_md5,
    n_records) from ``expected.tsv``."""
    out = {}
    with open(EXPECTED) as f:
        next(f)
        for line in f:
            rid, ts, text_md5, pages, status, csv_md5, n_rec = line.rstrip("\n").split("\t")
            out[(int(rid), int(ts))] = (text_md5, int(pages), status, csv_md5, int(n_rec))
    return out


class Inputs:
    """One seed's inputs, cut from the pool and cached on disk, with the
    committed expectations of its rows."""

    def __init__(self, seed: int, procs: int):
        self.seed = seed
        pool = load_pool(ensure_pool(procs))
        n_windows = POOL_IDS // SLICE_PERIOD
        self.start = start = SLICE_PERIOD * (seed % n_windows)
        ids = {(start + j) % POOL_IDS for j in range(WINDOW_IDS)}
        # consecutive ids, the way a crawl segment lists them
        rows = sorted((r for r in pool if r[0] in ids),
                      key=lambda r: ((r[0] - start) % POOL_IDS, r[2]))
        self.rows = rows
        expected = load_expected()
        # a pool row the expectations do not list reads as no output
        self.expect = {r[1:3]: expected.get((r[0], ts_us(r[2])), ("-", -1, "-", "-", -1))
                       for r in rows}
        self._sigs = {r[6]: r[9] for r in rows if r[9] is not None}
        # curation base docs whose extracted text is not the expected one
        self.curate_mismatch = 0
        self.dir = pool_dir() / "inputs" / f"s{seed}-n{WINDOW_IDS}"
        self.dir.mkdir(parents=True, exist_ok=True)

    # ── expectations (Spark-free) ───────────────────────────────────────

    def signature(self, text: str):
        """``minhash_signature(text)``, from the pool when it holds the
        text (its base docs), else computed."""
        import numpy as np

        from pdf_to_text_spark.kernels.textstats import minhash_signature

        raw = self._sigs.get(text)
        if raw is None:
            return minhash_signature(text)
        return np.frombuffer(raw, dtype=np.uint64)

    def newest(self, rows: list[tuple] | None = None,
               with_payload_only: bool = False) -> dict:
        """url → the pool row of its newest crawl (keep-newest-crawl-per-
        url) over `rows` (default: all)."""
        best: dict = {}
        for r in self.rows if rows is None else rows:
            if with_payload_only and r[3] is None:
                continue
            cur = best.get(r[1])
            if cur is None or r[2] > cur[2]:
                best[r[1]] = r
        return best

    def expected_by_url(self, rows: list[tuple] | None = None,
                        with_payload_only: bool = False) -> dict:
        """url → (text_md5, n_pages, parse_status) of its newest crawl."""
        return {u: self.expect[r[1:3]][:3]
                for u, r in self.newest(rows, with_payload_only).items()}

    def expected_csv(self, rows: list[tuple], with_payload_only: bool = False) -> dict:
        """url → (csv_md5, n_records) of its newest crawl."""
        return {u: self.expect[r[1:3]][3:]
                for u, r in self.newest(rows, with_payload_only).items()}

    # ── extract_crawl: pages parquet ───────────────────────────────────

    def pages_path(self) -> str:
        d = self.dir / "pages"
        if not (d / "_SUCCESS").exists():
            cols = ["url", "warc_ts", "html", "text", "lang"]
            _write_table([r[1:6] for r in self.rows], cols, d, PAGE_FILES)
            (d / "_SUCCESS").write_text("ok\n")
        return str(d)

    # ── crawl pass: WARC shards ────────────────────────────────────────

    def warc_path(self) -> str:
        from pdf_to_text_spark.sources.warc import build_warc_bytes

        d = self.dir / "warc"
        if not (d / "_SUCCESS").exists():
            tmp = d.with_name("warc.tmp")
            shutil.rmtree(tmp, ignore_errors=True)
            tmp.mkdir(parents=True)
            recs = [(r[1], r[2], r[3]) for r in self.crawl_rows() if r[3] is not None]
            per = -(-len(recs) // WARC_SHARDS)
            for k in range(WARC_SHARDS):
                (tmp / f"seg-{k:05d}.warc.gz").write_bytes(
                    build_warc_bytes(recs[k * per:(k + 1) * per]))
            (tmp / "_SUCCESS").write_text("ok\n")
            shutil.rmtree(d, ignore_errors=True)
            tmp.rename(d)
        return str(d)

    def crawl_rows(self) -> list[tuple]:
        return [r for r in self.rows if (r[0] - self.start) % POOL_IDS < CRAWL_IDS]

    # ── curate_text: extracted text with injected duplicates ──────────

    def curation_docs(self) -> list[tuple[int, str, str]]:
        """(doc_id, text, kind) — kind is base | exact | near. Base docs
        are the crawl's non-empty extracted texts (one per url, newest
        crawl, status ok); exact dups re-case and re-punctuate a base text
        (same normalized fingerprint); near dups replace one word in every
        eightieth by a token of their own. Base texts that differ from the
        expected extraction are counted in `curate_mismatch`."""
        from perfbench.oracle import DIGEST

        rng = random.Random(self.seed)
        newest = self.newest(
            [r for r in self.rows if (r[0] - self.start) % POOL_IDS < CURATE_IDS])
        base = []
        for _, r in sorted(newest.items()):
            text_md5, _, status = self.expect[r[1:3]][:3]
            if (DIGEST(r[6]), r[8]) != (text_md5, status):
                self.curate_mismatch += 1
            if r[8] == "ok" and r[6]:
                base.append(r[6])
        docs = [(i, t, "base") for i, t in enumerate(base)]
        n = len(base)
        exact = rng.sample(range(n), int(n * EXACT_DUP_SHARE))
        long_docs = [i for i, t in enumerate(base) if t.count(" ") >= NEAR_MIN_WORDS]
        near = rng.sample(long_docs, min(len(long_docs), int(n * NEAR_DUP_SHARE)))
        for src in exact:
            docs.append((len(docs), base[src].upper().replace(".", " ;"), "exact"))
        for src in near:
            words = base[src].split(" ")
            # a token of its own: near dups of two alike base texts (the
            # corpus' templated reports) must not be exact dups of each other
            for j in range(rng.randrange(NEAR_EVERY), len(words), NEAR_EVERY):
                words[j] = f"mutated{len(docs)}"
            docs.append((len(docs), " ".join(words), "near"))
        return docs

    def docs_path(self, docs) -> str:
        d = self.dir / "docs"
        if not (d / "_SUCCESS").exists():
            _write_table([(i, t) for i, t, _ in docs], ["doc_id", "text"], d,
                         DOC_FILES)
            (d / "_SUCCESS").write_text("ok\n")
        return str(d)


def prune_inputs(keep: int = 24) -> None:
    """Bound the per-seed cache: keep the most recently used seeds."""
    d = pool_dir() / "inputs"
    if not d.exists():
        return
    dirs = sorted(d.iterdir(), key=lambda p: p.stat().st_mtime, reverse=True)
    for old in dirs[keep:]:
        shutil.rmtree(old, ignore_errors=True)


if __name__ == "__main__":
    import sys

    if sys.argv[1:] == ["--write-expected"]:
        write_expected()
    else:
        _pool_part(pathlib.Path(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3]))

"""The mega-doc hash-skew knob must actually exist (r6 review): before
r6 the generator only CLAIMED its mega urls concentrated into 2 url-hash
buckets — a shared path prefix does not constrain pmod(xxhash64(url), N)
and they spread uniformly, so every bucket-skew claim was vacuous.
Pinned here: the driver-side hash mirror is bit-identical to the JVM
expression and the mega urls really land in MEGA_BUCKETS."""

from pyspark.sql import functions as F

from pdf_to_text_spark.plans.layout import bucket_of, xxhash64_py
from pdf_to_text_spark.sources.pages import (
    MEGA_BUCKET_MOD,
    MEGA_BUCKETS,
    MEGA_EVERY,
    _row_payload,
)


def _mega_ids(n_rows=3000):
    return [i for i in range(0, n_rows, 3) if i % MEGA_EVERY == 0]


def _mega_urls():
    # url generation probes the hash mirror only — avoid building the
    # megabyte payloads just to read back the url
    urls = []
    for i in _mega_ids():
        g = (i // MEGA_EVERY) % 2
        for k in range(10_000):
            u = f"https://example.org/mega/{g}/{i:08d}-{k}.pdf"
            # the PINNED modulus, not the env-configurable N_BUCKETS:
            # corpus bytes are a pure function of PAGES_GEN (r6 review —
            # PTS_N_BUCKETS=16 used to crash generation, 64 silently
            # changed the corpus under an unchanged cache stamp)
            if bucket_of(u, MEGA_BUCKET_MOD) == MEGA_BUCKETS[g]:
                urls.append((i, u))
                break
    return urls


def test_xxhash64_mirror_matches_jvm(spark):
    samples = [u for _, u in _mega_urls()[:8]] + [
        "", "a", "abc" * 50, "https://example.org/src3/00000042.html",
        "héllo wörld ünïcode ∀x",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    rows = df.select(
        "s",
        F.xxhash64("s").alias("h"),
        F.pmod(F.xxhash64("s"), F.lit(32)).alias("b"),
    ).collect()
    for r in rows:
        assert xxhash64_py(r.s) == r.h, r.s
        assert bucket_of(r.s, 32) == r.b, r.s


def test_mega_urls_concentrate_into_two_buckets():
    urls = _mega_urls()
    assert len(urls) >= 10
    buckets = {bucket_of(u, MEGA_BUCKET_MOD) for _, u in urls}
    assert buckets == set(MEGA_BUCKETS)
    # and the generator's actual output rows agree (payload build included)
    i = _mega_ids()[0]
    url, *_ = _row_payload(i)
    assert bucket_of(url, MEGA_BUCKET_MOD) == MEGA_BUCKETS[(i // MEGA_EVERY) % 2]

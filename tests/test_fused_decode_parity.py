"""fetch_wave's fused decode and the standalone decode_and_validate
stage must agree column for column on the same fetched bytes."""

import pyspark.sql.functions as F

from edgar_crawler_spark.fixtures.payload import make_payload_row
from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier.canonical import with_url_identity
from edgar_crawler_spark.frontier.fetch import fetch_wave
from edgar_crawler_spark.frontier.priority import with_priority
from edgar_crawler_spark.operators.multimodal import (
    VALIDATED_COLS,
    decode_and_validate,
    validate_payload,
)

N = 42  # rows 0 and 21 are real JPEGs; the rest PNG, QNT, BMP, GIF, WebP


def test_fused_decode_matches_decode_and_validate(spark):
    def _payload(url: str) -> bytes:  # local: the fetcher ships to workers
        return make_payload_row(int(url.split("-")[-2]))["bytes"]

    work = with_priority(
        with_url_identity(seed_index_df(spark, N, n_hosts=3, hot_host=False))
        .withColumn("attempts_total", F.lit(0))
    )
    urls = sorted(r.canonical_url for r in work.select("canonical_url").collect())
    corrupt, missing = urls[0], urls[1]

    def fetcher(url, attempt):
        if url == corrupt:  # a PNG signature over garbage
            return 200, b"\x89PNG\r\n\x1a\n" + bytes(range(64)), None
        if url == missing:
            return 404, None, None
        return 200, _payload(url), None

    out = fetch_wave(work, fetcher=fetcher).persist()
    fetched = out.filter(F.col("state") == "fetched")
    cols = ["canonical_url", *VALIDATED_COLS]
    # collect(), not toPandas(): a nullable LongType column would come
    # back as float64 and hide exactly the phash bits compared here
    fused = {r[0]: tuple(r[1:]) for r in fetched.select(cols).collect()}
    staged = {
        r[0]: tuple(r[1:])
        for r in decode_and_validate(fetched.select("canonical_url", "bytes"))
        .select(cols)
        .collect()
    }
    assert len(fused) == N - 1
    assert fused == staged

    assert fused[corrupt][:4] == (None, None, None, None)
    assert fused[corrupt][4] != "ok"
    good = {u: v for u, v in fused.items() if u != corrupt}
    assert all(v[4] == "ok" for v in good.values())
    # every column equals the per-payload helper's value, so phash
    # arrives exact even in a batch that also carries the corrupt
    # row's nulls
    assert good == {u: validate_payload(_payload(u)) for u in good}

    # a row that was never fetched carries no decode columns at all
    unfetched = out.filter(F.col("canonical_url") == missing).select(VALIDATED_COLS).first()
    assert all(v is None for v in unfetched)
    out.unpersist()

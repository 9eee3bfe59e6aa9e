"""Wave commit-protocol crash safety (ADVICE r01 high), wave ids
across reopens, incremental Bloom maintenance (VERDICT r01 item 3),
and the (url_hash, canonical_url) fetch join-back key (VERDICT r01
item 4)."""

import os

import pyspark.sql.functions as F
import pytest

from edgar_crawler_spark.fixtures.payload import make_payload_row
from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier import seen as seen_mod
from edgar_crawler_spark.frontier.fetch import fetch_wave
from edgar_crawler_spark.frontier.frontier import CrawlFrontier
from edgar_crawler_spark.frontier.state import SnapshotTable

N = 200


class _Boom(RuntimeError):
    pass


def _expected_order(seed):
    return list(
        seed.toPandas().sort_values(["year", "quarter", "row_seq"])["html_index"]
    )


# boundary → (SnapshotTable method, table dir, tables the reopen must
# roll back). log, payload and the filter commit concurrently and the
# barrier waits for all three, so the two that did not crash land.
BOUNDARIES = {
    "log": ("append", "log", {"payload"}),
    "payload": ("append", "payload", {"log"}),
    "filter": ("overwrite", "seenfilter", {"log", "payload"}),
    "seen": ("append", "seen", {"log", "payload"}),
    "pending": ("overwrite", "pending", set()),
}


@pytest.mark.parametrize("boundary", list(BOUNDARIES))
def test_crash_at_commit_boundary_recovers_exactly(spark, tmp_path, monkeypatch, boundary):
    """Crash wave 2's commit of one table inside a multi-wave run() —
    wave 2 was fetched from wave 1's chained, un-refiltered remainder,
    and wave 3 is in flight. Reopening rolls back exactly the orphaned
    log/payload snapshots, and a resumed run() ends with every URL
    logged once in reference order, one payload row per fetched URL,
    and a seen set equal to the log's URLs."""
    method, table, rolled_back = BOUNDARIES[boundary]
    wd = str(tmp_path / "wd")
    root = os.path.join(wd, table)
    orig = getattr(SnapshotTable, method)

    def crashing(self, df, metrics=None, lineage=None, partition_by=None):
        if self.root == root and (metrics or {}).get("wave") == 2:
            raise _Boom(f"crash at wave 2's {boundary} commit")
        return orig(self, df, metrics, lineage, partition_by)

    seed = seed_index_df(spark, 60, n_hosts=4, hot_host=False)
    fr = CrawlFrontier(spark, wd, wave_quota=5)  # 3 waves of 20
    fr.submit(seed)
    monkeypatch.setattr(SnapshotTable, method, crashing)
    with pytest.raises(_Boom):
        fr.run()
    monkeypatch.undo()
    assert [m["wave"] for m in fr.metrics] == [1]

    fr2 = CrawlFrontier(spark, wd, wave_quota=5)
    assert {
        t for t in ("log", "payload")
        if getattr(fr2, t).latest_manifest()["mode"] == "rollback"
    } == rolled_back
    fr2.run()

    log = fr2.fetch_log().toPandas()
    assert list(log["html_index"]) == _expected_order(seed)
    fetched_ids = log.loc[log.state == "fetched", "canonical_url"].str.extract(
        r"/(\d{10}-\d{2}-\d{6})(?:-index\.html)?$"
    )[0]
    pay = fr2.payload.read(spark).toPandas()
    assert sorted(pay["image_id"]) == sorted(fetched_ids)
    seen = fr2.seen_set().toPandas()["canonical_url"]
    assert len(seen) == seen.nunique()
    assert set(seen) == set(log["canonical_url"])


def test_wave_ids_continue_after_reopen(spark, tmp_path):
    """A run on a reopened workdir numbers its waves after the newest
    wave committed to seen, not from 1 again."""
    wd = str(tmp_path / "wd")
    fr = CrawlFrontier(spark, wd, wave_quota=5)  # 2 waves of 20
    fr.submit(seed_index_df(spark, 40, n_hosts=4, hot_host=False))
    assert fr.step()["wave"] == 1

    fr2 = CrawlFrontier(spark, wd, wave_quota=5)
    assert [m["wave"] for m in fr2.run()] == [2]
    log = fr2.fetch_log().toPandas()
    assert log.groupby("wave").size().to_dict() == {1: 20, 2: 20}


def test_bloom_incremental_no_full_rebuild(spark, tmp_path):
    """The per-wave filter maintenance ORs in only new hashes: the
    full-scan BloomFilterTable.build must NOT run during submit/step
    once the filter table exists, the filter-table version advances
    every wave, and the final dedup behavior stays exact."""
    wd = str(tmp_path / "wd")
    fr = CrawlFrontier(spark, wd, wave_quota=5)
    seed = seed_index_df(spark, N)
    fr.submit(seed)
    fr.run(max_waves=500)
    v_after_run = fr.seen_filter.table.current_version()
    assert v_after_run >= len(fr.metrics)  # one update commit per wave

    builds = {"n": 0}
    orig_build = seen_mod.BloomFilterTable.build

    def counting_build(*a, **kw):
        builds["n"] += 1
        return orig_build(*a, **kw)

    seen_mod.BloomFilterTable.build = staticmethod(counting_build)
    try:
        # second submit of the same seed: filter is read, never rebuilt,
        # and the exact-dedup contract holds (0 admitted)
        assert fr.submit(seed) == 0
        more = seed_index_df(spark, N + 50).filter(F.col("row_seq") >= N)
        assert fr.submit(more) == 50
        fr.run(max_waves=500)
        assert builds["n"] == 0
    finally:
        seen_mod.BloomFilterTable.build = staticmethod(orig_build)

    log = fr.fetch_log().toPandas()
    assert len(log) == N + 50
    assert log["canonical_url"].duplicated().sum() == 0


def test_bloom_filter_superset_of_seen(spark, tmp_path):
    """filter ⊇ seen after every wave: each seen hash must hit the
    persisted bitsets (no false negative can re-admit a URL)."""
    wd = str(tmp_path / "wd")
    fr = CrawlFrontier(spark, wd, wave_quota=7)
    fr.submit(seed_index_df(spark, N))
    fr.run(max_waves=500)
    pf = fr.seen_filter.read_filter(spark)
    seen_df = fr.seen_set()
    flagged = pf.maybe_contains(seen_df.select("url_hash"))
    assert flagged.filter(~F.col("bloom_maybe_seen")).count() == 0


def test_bloom_rebuild_on_overload(spark, tmp_path):
    """A deliberately tiny capacity overloads immediately; compact()
    triggers the (rare, sanctioned) full rebuild with doubled size."""
    wd = str(tmp_path / "wd")
    fr = CrawlFrontier(spark, wd)
    fr.seen_filter.expected_per_shard = 2
    fr.submit(seed_index_df(spark, N))
    fr.run(max_waves=50)
    assert fr.seen_filter.max_load(spark) > 1.0
    fr.compact()
    assert fr.seen_filter.expected_per_shard > 2
    assert fr.seen_filter.max_load(spark) <= 1.0
    # still exact after the rebuild
    assert fr.submit(seed_index_df(spark, N)) == 0


def test_fetch_joinback_same_hash_distinct_urls(spark):
    """Two in-wave URLs with a colliding 64-bit hash must produce
    exactly 2 result rows with correctly-attributed payloads (the old
    url_hash-only join cross-matched them into 4)."""
    rows = [
        (
            12345,
            "https://www.sec.gov/Archives/edgar/data/1/0000000001-22-000001-index.html",
            "hostA",
            1,
        ),
        (
            12345,
            "https://www.sec.gov/Archives/edgar/data/2/0000000002-22-000002-index.html",
            "hostA",
            2,
        ),
    ]
    frontier = spark.createDataFrame(
        rows, "url_hash long, canonical_url string, host string, host_rank int"
    )
    out = fetch_wave(frontier, virtual_clock=True).toPandas()
    assert len(out) == 2
    by_url = out.set_index("canonical_url")
    for i in (1, 2):
        url = f"https://www.sec.gov/Archives/edgar/data/{i}/00000000{i:02d}-22-00000{i}-index.html"
        assert by_url.loc[url, "caption"] == make_payload_row(i)["caption"]


def test_fetch_error_cleared_on_successful_retry(spark):
    """A row fetched after a transient exception must commit with a
    null error string (ADVICE r01 low)."""
    calls = {}

    def flaky(url, attempt):
        k = calls.get(url, 0)
        calls[url] = k + 1
        if k == 0:
            raise OSError("transient socket error")
        from edgar_crawler_spark.fixtures.payload import make_payload_row

        return 200, make_payload_row(1)["bytes"], "cap"

    frontier = spark.createDataFrame(
        [(1, "https://h/x-index.html", "h", 1)],
        "url_hash long, canonical_url string, host string, host_rank int",
    )
    out = fetch_wave(frontier, fetcher=flaky, virtual_clock=True).toPandas()
    assert len(out) == 1
    assert out.iloc[0]["state"] == "fetched"
    assert out.iloc[0]["error"] is None

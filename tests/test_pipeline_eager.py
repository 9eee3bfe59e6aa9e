"""Wave-loop lineage hardening (VERDICT r03 item 8): the chained
remainder must never be recomputable through the nondeterministic fetch.
With the eager wave-boundary localCheckpoint, losing every upstream
cache mid-wave neither re-runs the fetch nor changes what the commit
protocol publishes."""

import os

from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier.frontier import CrawlFrontier


def _counting_fetcher(count_file: str):
    # nested factory → cloudpickle serializes by value (worker processes
    # cannot import test modules); workers count via an append-mode file
    # because closure mutations never reach the driver
    def fetcher(url: str, attempt: int):
        with open(count_file, "a") as f:
            f.write(url + "\n")
        return 200, b"\x89PNG-fake-but-counted", None

    return fetcher


def test_eager_checkpoint_pins_remainder_against_cache_loss(spark, tmp_path):
    """Simulated mid-wave recompute: after the eager checkpoint, drop
    EVERY upstream cache (results + work) — the chained remainder must
    re-collect identically with ZERO additional fetch calls (its rows
    come from checkpoint blocks, not from re-running the fetch)."""
    count_file = str(tmp_path / "calls.txt")
    wd = str(tmp_path / "w")
    fr = CrawlFrontier(
        spark, wd, fetcher=_counting_fetcher(count_file), wave_quota=5
    )
    fr.submit(seed_index_df(spark, 60, n_hosts=4, hot_host=False))

    pending = fr._refiltered_pending()
    ctx = fr._fetch_phase(pending, 1)
    pend = ctx["next_pending"].localCheckpoint(eager=True)

    calls_after_fetch = sum(1 for _ in open(count_file))
    rows1 = sorted(map(tuple, pend.collect()))

    ctx["results"].unpersist(blocking=True)  # lost-executor simulation
    ctx["work"].unpersist(blocking=True)
    rows2 = sorted(map(tuple, pend.collect()))

    assert rows1 == rows2 and len(rows1) > 0
    assert sum(1 for _ in open(count_file)) == calls_after_fetch  # no re-fetch

    # the wave still commits normally from its (re-persistable) context
    m = fr._commit_phase(1, ctx)
    assert m["dispatched"] == 20  # 4 hosts × wave_quota 5


def test_pipeline_eager_equals_step_mode(spark, tmp_path):
    """End-to-end: one run() (each wave fetched from the checkpointed
    in-memory remainder) must publish exactly what a loop of step()
    calls publishes (each wave re-reads and re-filters the pending
    table) — same crawl order, same seen set — with every URL fetched
    exactly once."""
    n = 60

    def run_mode(sub: str, drive):
        count_file = str(tmp_path / f"calls_{sub}.txt")
        wd = str(tmp_path / sub)
        fr = CrawlFrontier(
            spark, wd, fetcher=_counting_fetcher(count_file), wave_quota=7
        )
        fr.submit(seed_index_df(spark, n, n_hosts=4, hot_host=False))
        drive(fr)
        log = fr.fetch_log().toPandas()
        seen = {r.url_hash for r in fr.seen_set().collect()}
        calls = sum(1 for _ in open(count_file)) if os.path.exists(count_file) else 0
        return log, seen, calls

    def step_loop(fr):
        while fr.step():
            pass

    log_e, seen_e, calls_e = run_mode("run", CrawlFrontier.run)
    log_s, seen_s, calls_s = run_mode("step", step_loop)

    assert calls_e == calls_s == n  # exactly-once fetch both ways
    assert seen_e == seen_s and len(seen_e) == n
    order_cols = ["year", "quarter", "row_seq", "wave"]
    assert log_e[order_cols].values.tolist() == log_s[order_cols].values.tolist()
    assert (log_e["state"] == "fetched").all()

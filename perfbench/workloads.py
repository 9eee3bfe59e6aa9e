"""The four workloads. Each drives the program through its public entry
points exactly as a user would, one job at a time, and checks the
job's outputs.

A workload provides:

* ``prepare(ctx, size, slots)`` — write the inputs (files only) for
  job slots ``0 .. slots-1``; timed as part of ``setup_s``.
* ``job(ctx, k, size)`` — job slot ``k``: returns a ``Job`` with the
  timed wall, the work items, attempted/failed operation counts and the
  output-check failures.
* ``spark_layer_metrics`` / ``log_layer_metrics`` — per-layer numbers
  of a traced job (the first needs the live session, the second the
  Spark event log, which is complete only once the session stops).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time
from argparse import Namespace
from dataclasses import dataclass, field

import numpy as np

import harness
import inputs


@dataclass
class Job:
    wall_s: float
    items: int
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    # traced jobs only
    tracer: object = None
    window: tuple[float, float] = (0.0, 0.0)


class Ctx:
    def __init__(self, spark, settings, work: str, seed: int):
        self.spark = spark
        self.settings = settings
        self.work = work
        self.seed = seed
        self.tracer = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _traced(ctx, wraps):
    """Install the tracer's wrappers (``(owner, attr, span name)``)."""
    if ctx.tracer is not None:
        for owner, attr, name in wraps:
            ctx.tracer.wrap(owner, attr, name)


# --------------------------------------------------------------------------
# crawl workloads: shared pieces
# --------------------------------------------------------------------------


def _crawl_wraps():
    from edgar_crawler_spark.frontier.frontier import CrawlFrontier
    from edgar_crawler_spark.frontier.seen import PersistedBloomTable
    from edgar_crawler_spark.frontier.state import SnapshotTable
    from edgar_crawler_spark.plans import pipeline

    return [
        (CrawlFrontier, "submit", "frontier.submit"),
        (CrawlFrontier, "run", "frontier.run"),
        (CrawlFrontier, "bootstrap_seen", "frontier.bootstrap_seen"),
        (PersistedBloomTable, "update", "seen.filter_update"),
        (SnapshotTable, "append", "state.commit"),
        (SnapshotTable, "overwrite", "state.commit"),
        (pipeline, "caption_near_dups_from_frontier", "near_dup.pass"),
    ]


def _check_crawl(spark, fr, seeds_pdf, payload_v0: int, seen_v0: int) -> tuple[list[str], dict]:
    """Output checks shared by both crawl workloads.

    ``seeds_pdf`` holds the seed rows that had to be admitted (not seen
    before the job)."""
    import pyspark.sql.functions as F

    errors = []
    log = fr.fetch_log().select(
        "html_index", "canonical_url", "url_hash", "state", "attempts", "wait_s"
    ).toPandas()
    expected = seeds_pdf.sort_values(["year", "quarter", "row_seq"])["html_index"].tolist()
    if log["html_index"].tolist() != expected:
        errors.append(
            f"fetch log ({len(log)} rows) differs from the seeds in crawl order ({len(expected)} rows)"
        )
    if log["url_hash"].duplicated().any():
        errors.append("duplicate fetch-log rows")
    seen = fr.seen_set().filter(F.col("first_seen_version") > seen_v0).select("canonical_url").toPandas()
    if len(seen) != len(log) or set(seen["canonical_url"]) != set(log["canonical_url"]):
        errors.append(f"seen set ({len(seen)} new) differs from the admitted URLs ({len(log)})")
    new_payload = fr.payload.read_since(spark, payload_v0)
    bad = ok = 0
    if new_payload is not None:
        counts = {
            r["ok"]: r["n"]
            for r in new_payload.groupBy((F.col("decode_ok") == "ok").alias("ok"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        bad, ok = counts.get(False, 0), counts.get(True, 0)
    if bad:
        errors.append(f"{bad} payload rows with decode_ok != 'ok'")
    n_failed = int((log["state"] == "failed").sum())
    if ok + n_failed != len(log):
        errors.append(f"{ok} payload rows for {len(log) - n_failed} fetched URLs")
    info = {
        "log_rows": len(log),
        "failed_urls": n_failed,
        "attempts": int(log["attempts"].sum()),
        "wait_s": float(log["wait_s"].sum()),
        "payload_rows": ok + bad,
        "payload_ok": ok,
    }
    return errors, info


def _crawl_spark_metrics(ctx, job: Job) -> dict:
    import pyspark.sql.functions as F

    t = job.tracer
    fr = job.info["frontier"]
    run_spans = t.named("frontier.run")
    sub = t.named("frontier.submit")
    lo = min(s["start"] for s in sub)
    hi = max(s["end"] for s in run_spans)
    commits = [s for s in t.named("state.commit") if lo <= s["start"] <= hi]
    fetch_s = sum(m["wall_s"] for m in fr.metrics)
    terminal = max(1, job.items)
    filter_bytes = (
        fr.seen_filter.table.read(ctx.spark).agg(F.sum(F.length("bitset"))).first()[0] or 0
    )
    m = {
        "frontier.submit_s": t.total("frontier.submit"),
        "frontier.admitted": float(job.info["admitted"]),
        "frontier.admit_ratio": job.info["admitted"] / max(1, job.info["seed_rows"]),
        "frontier.waves": float(len(fr.metrics)),
        "frontier.fetch_phase_s": fetch_s,
        "frontier.non_fetch_s": t.total("frontier.run") - fetch_s,
        "frontier.retried": float(sum(m["retried"] for m in fr.metrics)),
        "frontier.failed": float(sum(m["failed"] for m in fr.metrics)),
        "fetch.attempts_per_url": job.info["attempts"] / max(1, job.info["log_rows"]),
        "fetch.politeness_wait_s": job.info["wait_s"],
        "fetch.decode_ok_ratio": job.info["payload_ok"] / max(1, job.info["payload_rows"]),
        "seen.filter_update_s": t.total("seen.filter_update"),
        "seen.filter_bytes": float(filter_bytes),
        "state.commits": float(len(commits)),
        "state.commit_s": sum(s["end"] - s["start"] for s in commits),
        "state.bytes_written": float(job.info["state_bytes"]),
        "state.bytes_per_url": job.info["state_bytes"] / terminal,
        "state.files": float(job.info["state_files"]),
    }
    return m


def _bloom_ratios(ctx, job: Job) -> dict:
    """Share of submitted candidates the Bloom pre-filter flagged as
    maybe-seen, and its false-positive share among truly new URLs —
    recomputed against the filter and seen snapshots the job started
    from."""
    import pyspark.sql.functions as F

    from edgar_crawler_spark.frontier.canonical import with_url_identity
    from edgar_crawler_spark.frontier.seen import BloomFilterTable

    fr = job.info["frontier"]
    fv0, sv0 = job.info["filter_v0"], job.info["seen_v0_version"]
    spark = ctx.spark
    bloom = BloomFilterTable(fr.seen_filter.table.read(spark, version=fv0), fr.bloom_shards)
    cand = (
        with_url_identity(spark.read.parquet(job.info["seeds_path"]))
        .select("url_hash", "canonical_url")
        .dropDuplicates()
    )
    seen0 = fr.seen.read(spark, version=sv0).select(
        "url_hash", "canonical_url", F.lit(True).alias("was_seen")
    )
    flagged = bloom.maybe_contains(cand).join(seen0, ["url_hash", "canonical_url"], "left")
    r = flagged.agg(
        F.count("*").alias("n"),
        F.sum(F.col("bloom_maybe_seen").cast("int")).alias("maybe"),
        F.sum(F.col("was_seen").isNull().cast("int")).alias("new"),
        F.sum((F.col("bloom_maybe_seen") & F.col("was_seen").isNull()).cast("int")).alias("fp"),
    ).first()
    return {
        "seen.maybe_ratio": (r["maybe"] or 0) / max(1, r["n"]),
        "seen.fp_ratio": (r["fp"] or 0) / max(1, r["new"] or 0),
    }


def _crawl_log_metrics(job: Job, log: harness.EventLog) -> dict:
    fetch = [
        s for s in log.select(job.window)
        if "MapInPandas" in s["scopes"] and s["desc"] == "frontier.run"
    ]
    return {
        "fetch.stage_task_s": sum(t["run_s"] for s in fetch for t in s["tasks"]),
        "fetch.task_skew": log.task_skew(fetch),
    }


# --------------------------------------------------------------------------
# fresh_crawl
# --------------------------------------------------------------------------


class FreshCrawl:
    """Empty workdir, uniform seed list over far more hosts than cores;
    a per-host quota of 1 drains it in ``n_urls / n_hosts`` waves."""

    name = "fresh_crawl"
    sizes = {
        "full": {"n_urls": 1200, "n_hosts": 400},
        "probe": {"n_urls": 120, "n_hosts": 60},
    }
    nominal_job_s = 8.0
    layers = ("frontier", "fetch", "seen", "state")

    def prepare(self, ctx: Ctx, size: str, slots: int) -> None:
        sz = self.sizes[size]
        for k in range(slots):
            inputs.write_parquet(
                inputs.crawl_seeds(ctx.seed, k, sz["n_urls"], sz["n_hosts"]),
                _fresh_dir(ctx.path(f"in-{self.name}-{size}", f"seeds-{k}")),
            )

    def job(self, ctx: Ctx, k: int, size: str = "full") -> Job:
        from edgar_crawler_spark.frontier.frontier import CrawlFrontier

        spark = ctx.spark
        seeds_path = ctx.path(f"in-{self.name}-{size}", f"seeds-{k}")
        wd = _fresh_dir(ctx.path("jobs", f"{self.name}-{size}-{k}"))
        seeds = spark.read.parquet(seeds_path)
        seeds_pdf = seeds.select("html_index", "year", "quarter", "row_seq").toPandas()
        fr = CrawlFrontier(spark, wd, wave_quota=1, rate_per_host=10.0, virtual_clock=True)
        _traced(ctx, _crawl_wraps())
        t0 = time.time()
        admitted = fr.submit(seeds)
        fr.run()
        t1 = time.time()
        tracer = ctx.tracer
        if tracer is not None:
            tracer.unwrap()
        terminal = sum(m["fetched"] + m["failed"] for m in fr.metrics)
        errors, info = _check_crawl(spark, fr, seeds_pdf, 0, 0)
        if admitted != len(seeds_pdf):
            errors.append(f"admitted {admitted} of {len(seeds_pdf)} fresh seeds")
        files, nbytes = harness.dir_stats(wd, "*.parquet")
        info.update(
            frontier=fr, admitted=admitted, seed_rows=len(seeds_pdf),
            state_files=files, state_bytes=nbytes,
        )
        return Job(
            wall_s=t1 - t0, items=terminal, attempted=admitted,
            failed=info["failed_urls"], errors=errors, info=info,
            tracer=tracer, window=(t0, t1),
        )

    def spark_layer_metrics(self, ctx: Ctx, job: Job) -> dict:
        return _crawl_spark_metrics(ctx, job)

    def log_layer_metrics(self, job: Job, log: harness.EventLog) -> dict:
        return _crawl_log_metrics(job, log)

    def summary(self, jobs: list[Job]) -> dict:
        return {"urls_per_s": harness.median([j.items / j.wall_s for j in jobs])}


# --------------------------------------------------------------------------
# recrawl_delta
# --------------------------------------------------------------------------


# the near-dup pass's parameters (its defaults, passed explicitly so the
# output check uses the same values)
MIN_SIM = 0.8
MAX_HAMMING = 6


class RecrawlDelta:
    """The daily re-run: a large prior seen set and payload, a seed list
    that is mostly already seen, half the new rows on one hot host, then
    the incremental caption near-dup pass over the new payload slice."""

    name = "recrawl_delta"
    sizes = {
        "full": {"n_old": 40000, "n_hosts": 200, "n_repeat": 8000, "n_new": 1200,
                 "n_payload": 8000, "mirror_every": 12},
        "probe": {"n_old": 2000, "n_hosts": 20, "n_repeat": 400, "n_new": 80,
                  "n_payload": 400, "mirror_every": 8},
    }
    nominal_job_s = 12.0
    layers = ("frontier", "fetch", "seen", "state", "near_dup", "recrawl")

    def prepare(self, ctx: Ctx, size: str, slots: int) -> None:
        """Old metadata + job seed lists, then the prior state: seen set
        via ``bootstrap_seen``, payload appends (old filings + re-posts
        of the new ones) and one caption near-dup pass."""
        import pyspark.sql.functions as F

        from edgar_crawler_spark.frontier.frontier import CrawlFrontier
        from edgar_crawler_spark.frontier.state import SnapshotTable
        from edgar_crawler_spark.plans.pipeline import caption_near_dups_from_frontier

        sz = self.sizes[size]
        spark = ctx.spark
        old, job_seeds = inputs.recrawl_inputs(
            ctx.seed, sz["n_old"], sz["n_hosts"], sz["n_repeat"], sz["n_new"], slots
        )
        base = _fresh_dir(ctx.path(f"in-{self.name}-{size}"))
        old_path = inputs.write_parquet(old, os.path.join(base, "old"))
        year = int(old.column("year")[0].as_py())
        mirrors = []
        for k, t in enumerate(job_seeds):
            inputs.write_parquet(t, os.path.join(base, f"seeds-{k}"))
            new_ids = [
                int(u.rsplit("-", 2)[-2]) for u in t.column("html_index").to_pylist()[sz["n_repeat"]:]
            ]
            mirrors.extend(new_ids[:: sz["mirror_every"]])
        prior = os.path.join(base, "prior")
        fr = CrawlFrontier(spark, prior)
        fr.bootstrap_seen(spark.read.parquet(old_path))
        payload = SnapshotTable(os.path.join(prior, "payload"))
        old_ids = np.array(
            [int(u.rsplit("-", 2)[-2]) for u in old.column("html_index").to_pylist()[: sz["n_payload"]]]
        )
        for name, tbl in (
            ("old", inputs.prior_payload(ctx.seed, old_ids, year)),
            ("mirror", inputs.mirror_payload(mirrors, year)),
        ):
            p = inputs.write_parquet(tbl, os.path.join(base, f"payload-{name}"))
            payload.append(spark.read.parquet(p).select(
                "image_id", "bytes", F.col("w").cast("int"), F.col("h").cast("int"),
                "fmt", "caption", "phash", "decode_ok",
            ))
        caption_near_dups_from_frontier(spark, prior, max_hamming=MAX_HAMMING, min_sim=MIN_SIM)
        self._mirrors = set(mirrors)

    def job(self, ctx: Ctx, k: int, size: str = "full") -> Job:
        from edgar_crawler_spark.frontier.frontier import CrawlFrontier
        from edgar_crawler_spark.plans import pipeline

        spark = ctx.spark
        base = ctx.path(f"in-{self.name}-{size}")
        seeds_path = os.path.join(base, f"seeds-{k}")
        wd = ctx.path("jobs", f"{self.name}-{size}-{k}")
        shutil.rmtree(wd, ignore_errors=True)
        shutil.copytree(os.path.join(base, "prior"), wd)
        seeds = spark.read.parquet(seeds_path)
        seeds_pdf = seeds.select("html_index", "year", "quarter", "row_seq", "host").toPandas()
        old_urls = set(
            spark.read.parquet(os.path.join(base, "old")).select("html_index").toPandas()["html_index"]
        )
        fresh_pdf = seeds_pdf[~seeds_pdf["html_index"].isin(old_urls)]
        fr = CrawlFrontier(spark, wd, wave_quota=400, rate_per_host=10.0, virtual_clock=True)
        payload_v0 = fr.payload.current_version()
        seen_v0 = fr.seen.current_version()
        filter_v0 = fr.seen_filter.table.current_version()
        files0, bytes0 = harness.dir_stats(wd, "*.parquet")
        _traced(ctx, _crawl_wraps())
        t0 = time.time()
        admitted = fr.submit(seeds)
        fr.run()
        pairs_df = pipeline.caption_near_dups_from_frontier(
            spark, wd, max_hamming=MAX_HAMMING, min_sim=MIN_SIM
        )
        pairs = pairs_df.toPandas() if pairs_df is not None else None
        t1 = time.time()
        tracer = ctx.tracer
        if tracer is not None:
            tracer.unwrap()
        terminal = sum(m["fetched"] + m["failed"] for m in fr.metrics)
        errors, info = _check_crawl(spark, fr, fresh_pdf, payload_v0, seen_v0)
        if admitted != len(fresh_pdf):
            errors.append(f"admitted {admitted}, expected the {len(fresh_pdf)} unseen seeds")
        pair_errors, exact_share = self._check_pairs(spark, wd, payload_v0, pairs)
        errors += pair_errors
        files, nbytes = harness.dir_stats(wd, "*.parquet")
        info.update(
            frontier=fr, admitted=admitted, seed_rows=len(seeds_pdf), filter_v0=filter_v0,
            seen_v0_version=seen_v0, seeds_path=seeds_path,
            state_files=files - files0, state_bytes=nbytes - bytes0,
            already_seen_share=1.0 - len(fresh_pdf) / len(seeds_pdf),
            hot_host_share=float((fresh_pdf["host"] == inputs.HOT_HOST).mean()),
            pairs=0 if pairs is None else len(pairs),
            exact_share=exact_share,
            slice_rows=info["payload_rows"],
        )
        return Job(
            wall_s=t1 - t0, items=terminal, attempted=admitted,
            failed=info["failed_urls"], errors=errors, info=info,
            tracer=tracer, window=(t0, t1),
        )

    def _check_pairs(self, spark, wd: str, payload_v0: int, pairs) -> tuple[list[str], float]:
        """Every emitted pair must hold by the pass's own contract, and
        every re-post must be paired with its new twin.

        The contract (``operators.dedup.IncrementalLSHIndex`` with
        ``min_sim``, the incremental twin of ``minhash_verified_pairs``):
        a caption pair's agreeing-seed MinHash estimate over its
        whitespace tokens is at least ``min_sim``; a phash pair is within
        ``max_hamming`` bits. The estimate is recomputed here from the two
        captions alone. Returns the errors and the share of caption pairs
        whose exact token-set Jaccard also reaches ``min_sim`` (the
        estimator's precision, reported as ``near_dup.exact_precision``)."""
        from edgar_crawler_spark.frontier.state import SnapshotTable
        from edgar_crawler_spark.operators.dedup import MINHASH_K, minhash_wide

        if pairs is None or not len(pairs):
            return ["near-dup pass emitted no pairs"], 0.0
        errors = []
        pay = SnapshotTable(os.path.join(wd, "payload")).read(spark)
        ids = set(pairs["doc_a"]) | set(pairs["doc_b"])
        rows = {
            r["image_id"]: r
            for r in pay.filter(pay.image_id.isin(list(ids)))
            .select("image_id", "caption", "phash")
            .collect()
        }
        captions = spark.createDataFrame(
            [(i, r["caption"]) for i, r in rows.items() if r["caption"]], "doc_id string, text string"
        )
        sigs = {
            r["doc_id"]: [r[f"m{i}"] for i in range(MINHASH_K)] for r in minhash_wide(captions).collect()
        }
        bad = caption_pairs = exact_ok = 0
        for a, b, via in pairs[["doc_a", "doc_b", "via"]].itertuples(index=False):
            ra, rb = rows.get(a), rows.get(b)
            if ra is None or rb is None:
                bad += 1
                continue
            if via == "phash":
                ok = bin((ra["phash"] ^ rb["phash"]) & (2**64 - 1)).count("1") <= MAX_HAMMING
            else:
                sa, sb = sigs.get(a), sigs.get(b)
                ok = sa is not None and sb is not None and (
                    sum(x == y for x, y in zip(sa, sb)) / MINHASH_K >= MIN_SIM
                )
                ta = set(t for t in (ra["caption"] or "").split(" ") if t)
                tb = set(t for t in (rb["caption"] or "").split(" ") if t)
                caption_pairs += 1
                exact_ok += bool(ta | tb) and len(ta & tb) / len(ta | tb) >= MIN_SIM
            bad += not ok
        if bad:
            errors.append(f"{bad} of {len(pairs)} near-dup pairs fail the recheck")
        new_ids = set(
            SnapshotTable(os.path.join(wd, "payload")).read_since(spark, payload_v0)
            .select("image_id").toPandas()["image_id"]
        )
        found = {(a, b) for a, b in pairs[["doc_a", "doc_b"]].itertuples(index=False)}
        twins = [iid for iid in new_ids if int(iid.rsplit("-", 1)[1]) in self._mirrors]
        missing = sum(1 for iid in twins if (min(iid, "m" + iid), max(iid, "m" + iid)) not in found)
        if missing:
            errors.append(f"{missing} of {len(twins)} re-posted filings not paired with their twin")
        return errors, exact_ok / max(1, caption_pairs)

    def spark_layer_metrics(self, ctx: Ctx, job: Job) -> dict:
        m = _crawl_spark_metrics(ctx, job)
        m.update(_bloom_ratios(ctx, job))
        rows = max(1, job.info["slice_rows"])
        m.update(
            {
                "near_dup.pass_s": job.tracer.total("near_dup.pass"),
                "near_dup.rows_in": float(job.info["slice_rows"]),
                "near_dup.pairs": float(job.info["pairs"]),
                "near_dup.pairs_per_row": job.info["pairs"] / rows,
                "near_dup.exact_precision": job.info["exact_share"],
                "recrawl.already_seen_share": job.info["already_seen_share"],
                "recrawl.hot_host_share": job.info["hot_host_share"],
            }
        )
        return m

    def log_layer_metrics(self, job: Job, log: harness.EventLog) -> dict:
        filter_reads = [
            s for s in log.select(job.window)
            if "FlatMapCoGroupsInPandas" in s["scopes"]
            and s["desc"] in ("frontier.submit", "frontier.run")
        ]
        return {
            **_crawl_log_metrics(job, log),
            "seen.filter_read_s": sum(s["wall_s"] for s in filter_reads),
        }

    def summary(self, jobs: list[Job]) -> dict:
        return {
            "urls_per_s": harness.median([j.items / j.wall_s for j in jobs]),
            "already_seen_share": harness.median([j.info["already_seen_share"] for j in jobs]),
            "hot_host_share": harness.median([j.info["hot_host_share"] for j in jobs]),
            "near_dup_pairs": harness.median([j.info["pairs"] for j in jobs]),
        }


# --------------------------------------------------------------------------
# extract_filings
# --------------------------------------------------------------------------


class ExtractFilings:
    """A raw-filings folder + metadata CSV → per-filing JSON files
    through the CLI's extract stage (one invocation per job)."""

    name = "extract_filings"
    sizes = {
        "full": {"n_plain": 200, "n_html": 200},
        "probe": {"n_plain": 6, "n_html": 6},
    }
    nominal_job_s = 5.5
    layers = ("extract", "sink")

    def prepare(self, ctx: Ctx, size: str, slots: int) -> None:
        from edgar_crawler_spark.fixtures.filing_corpus import CORPUS_SIZES

        sz = self.sizes[size]
        self._inputs = getattr(self, "_inputs", {})
        self._inputs[size] = inputs.extract_inputs(
            _fresh_dir(ctx.path(f"in-{self.name}-{size}")), ctx.seed, sz["n_plain"], sz["n_html"]
        )
        self._goldens = inputs.load_goldens(list(CORPUS_SIZES))

    def job(self, ctx: Ctx, k: int, size: str = "full") -> Job:
        import spark_submit_main as cli
        from edgar_crawler_spark.extract import spark_extract
        from edgar_crawler_spark.sources import blob_sink

        spark = ctx.spark
        inp = self._inputs[size]
        out_dir = ctx.path("jobs", f"{self.name}-{size}-{k}")
        shutil.rmtree(out_dir, ignore_errors=True)
        args = Namespace(
            workdir=None, raw_dir=inp["raw_dir"], metadata_csv_in=inp["csv"],
            out_dir=out_dir, dataset_dir=None, drop_near_dups=False,
        )
        _traced(
            ctx,
            [
                (cli, "run_extract_stage", "extract.stage"),
                (spark_extract, "extract_json_records", "extract.json_records"),
                (blob_sink, "write_filing_json_files", "sink.write"),
            ],
        )
        buf = io.StringIO()
        t0 = time.time()
        with contextlib.redirect_stdout(buf):
            cli.run_extract_stage(spark, args, {})
        t1 = time.time()
        tracer = ctx.tracer
        if tracer is not None:
            tracer.unwrap()
        summary = json.loads(buf.getvalue().strip().splitlines()[-1])
        errors, info = self._check(out_dir, inp["docs"], summary)
        return Job(
            wall_s=t1 - t0, items=info["files"], attempted=info["selected"],
            failed=info["error_docs"], errors=errors, info=info,
            tracer=tracer, window=(t0, t1),
        )

    def _check(self, out_dir: str, docs: list, summary: dict) -> tuple[list[str], dict]:
        """No extraction errors; every golden filing's JSON equals its
        minted record (the goldens are stored key-sorted, so the file must
        parse to the same record and be that record's reference
        serialisation, indent=4 / ensure_ascii=False)."""
        errors = []
        if summary["selected"] != len(docs):
            errors.append(f"{summary['selected']} filings selected of {len(docs)}")
        if summary["failed"]:
            errors.append(f"{summary['failed']} filings failed extraction")
        files = items = nbytes = golden_checked = golden_bad = 0
        for fname, ftype, form in docs:
            path = os.path.join(out_dir, ftype, fname.split(".")[0] + ".json")
            rec = None
            if os.path.isfile(path):
                with open(path, encoding="utf-8") as f:
                    text = f.read()
                files += 1
                nbytes += len(text.encode("utf-8"))
                rec = json.loads(text)
                if text != json.dumps(rec, indent=4, ensure_ascii=False):
                    errors.append(f"{fname}: not the reference JSON serialisation")
                items += sum(
                    1 for key, v in rec.items()
                    if (key.startswith(("item_", "part_")) or key == "SIGNATURE") and v
                )
            if form is not None:
                golden_checked += 1
                golden_bad += rec != self._goldens[form][fname]
        if golden_bad:
            errors.append(f"{golden_bad} of {golden_checked} golden filings differ from the minted records")
        if files != summary["extracted"]:
            errors.append(f"{files} JSON files on disk, the CLI reported {summary['extracted']}")
        info = {
            "selected": summary["selected"], "error_docs": summary["failed"], "files": files,
            "bytes": nbytes, "items": items, "golden_checked": golden_checked,
        }
        return errors, info

    def spark_layer_metrics(self, ctx: Ctx, job: Job) -> dict:
        t = job.tracer
        (recs,), (write,) = t.named("extract.json_records"), t.named("sink.write")
        return {
            # the persisted records materialise between the kernel call
            # (which only plans) and the sink (which reads the cache)
            "extract.records_s": write["start"] - recs["end"],
            "extract.docs": float(job.info["selected"]),
            "extract.error_docs": float(job.info["error_docs"]),
            "extract.items_per_doc": job.info["items"] / max(1, job.info["files"]),
            "sink.write_s": t.total("sink.write"),
            "sink.files": float(job.info["files"]),
            "sink.bytes": float(job.info["bytes"]),
        }

    def log_layer_metrics(self, job: Job, log: harness.EventLog) -> dict:
        stages = [
            s for s in log.select(job.window)
            if "MapInPandas" in s["scopes"] and s["desc"] == "extract.stage"
        ]
        top = max(stages, key=lambda s: sum(t["run_s"] for t in s["tasks"]), default=None)
        return {"extract.task_skew": log.task_skew([top]) if top else 1.0}

    def summary(self, jobs: list[Job]) -> dict:
        return {
            "docs_per_s": harness.median([j.items / j.wall_s for j in jobs]),
            "golden_checked": jobs[0].info["golden_checked"],
        }


# --------------------------------------------------------------------------
# curate_sql
# --------------------------------------------------------------------------

HEADLINE_QUERIES = [
    "flagship_frontier_pipeline",
    "a5_agg_summary",
    "j2_anti_join_dedup",
    "a6_argmax_per_group",
    "a3_per_host_rank",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "text_quality_score",
    "text_fingerprint",
    "ev_sessionize",
    "ev_tumbling_hourly",
]


class CurateSql:
    """The 14 headline catalog queries over seed-generated sf0.1-shaped
    tables, each materialised through the noop sink; row counts are
    checked against the queries' DuckDB oracle SQL."""

    name = "curate_sql"
    sizes = {"full": {"sf": 0.1}, "probe": {"sf": 0.01}}
    nominal_job_s = 10.0
    layers = ("catalog",)

    def prepare(self, ctx: Ctx, size: str, slots: int) -> None:
        inputs.sf_tables(_fresh_dir(ctx.path(f"in-{self.name}-{size}")), ctx.seed, self.sizes[size]["sf"])

    def job(self, ctx: Ctx, k: int, size: str = "full") -> Job:
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        from edgar_crawler_spark.catalog import CATALOG

        spark = ctx.spark
        sf_dir = ctx.path(f"in-{self.name}-{size}")
        tracer = ctx.tracer
        counts, failed = {}, []
        t0 = time.time()
        for q in HEADLINE_QUERIES:
            obs = Observation(q)
            span = tracer.span(f"catalog.{q}") if tracer else contextlib.nullcontext()
            with span:
                try:
                    df = CATALOG[q][0](spark, sf_dir)
                    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    counts[q] = obs.get["rows"]
                except Exception as e:  # a failed query is a failed operation
                    failed.append(f"{q}: {type(e).__name__}")
        t1 = time.time()
        errors = list(failed)
        expected = self._expected(ctx, sf_dir)
        for q, n in counts.items():
            if n != expected[q]:
                errors.append(f"{q}: {n} rows, oracle says {expected[q]}")
        return Job(
            wall_s=t1 - t0, items=len(counts), attempted=len(HEADLINE_QUERIES),
            failed=len(failed), errors=errors, info={"rows": counts},
            tracer=tracer, window=(t0, t1),
        )

    def _expected(self, ctx: Ctx, sf_dir: str) -> dict:
        cache = getattr(self, "_oracle", {})
        if sf_dir not in cache:
            import duckdb

            from edgar_crawler_spark.catalog import CATALOG

            con = duckdb.connect()
            con.execute("SET threads TO %d" % ctx.settings.cpus)
            con.execute(f"SET temp_directory = '{ctx.settings.tmp}'")
            for f in sorted(os.listdir(sf_dir)):
                name = f.split(".")[0]
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}')"
                )
            cache[sf_dir] = {
                q: con.execute(f"SELECT COUNT(*) FROM ({CATALOG[q][1]})").fetchone()[0]
                for q in HEADLINE_QUERIES
            }
            con.close()
            self._oracle = cache
        return cache[sf_dir]

    def spark_layer_metrics(self, ctx: Ctx, job: Job) -> dict:
        return {f"catalog.{q}_s": job.tracer.total(f"catalog.{q}") for q in HEADLINE_QUERIES}

    def log_layer_metrics(self, job: Job, log: harness.EventLog) -> dict:
        return {}

    def summary(self, jobs: list[Job]) -> dict:
        return {"queries_per_s": harness.median([j.items / j.wall_s for j in jobs])}


WORKLOADS = {w.name: w for w in (FreshCrawl, RecrawlDelta, ExtractFilings, CurateSql)}

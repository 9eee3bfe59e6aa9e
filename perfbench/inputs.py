"""Input generators. Every input is a pure function of the workload
seed and is written as plain files (parquet, CSV, a raw-filings folder)
with pyarrow/pandas, so the program under test only ever sees files.

The seed changes identities and content (which accession numbers,
which hosts, which documents, which table values), never the amount of
work: every seed yields the same row counts, host counts and wave
counts, so run-to-run spread reflects the program, not the input size.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEED_COLUMNS = [
    "cik", "company", "type", "date", "complete_text_file_link", "html_index",
    "filing_date", "period_of_report", "sic", "htm_file_link", "state_of_inc",
    "state_location", "fiscal_year_end", "filename", "year", "quarter", "row_seq", "host",
]
_NULL_SEED_COLS = SEED_COLUMNS[6:14]
_TYPES = np.array(["10-K", "10-Q", "8-K"])


def _seed_table(
    rng: np.random.Generator,
    ids: np.ndarray,
    hosts: np.ndarray,
    row_seq: np.ndarray,
    year: int,
) -> pa.Table:
    """Quarterly-index seed rows (the 18-column ``seed_index_df`` shape)
    for the given row ids. The id is the accession's last six digits,
    which is what the stub fetcher derives its payload from."""
    n = len(ids)
    cik = 100000 + ids % 997
    acc = [f"{c:010d}-{year % 100:02d}-{i:06d}" for c, i in zip(cik, ids)]
    txt = [f"https://{h}/Archives/edgar/data/{c}/{a}.txt" for h, c, a in zip(hosts, cik, acc)]
    quarter = 1 + (row_seq % 4)
    days = rng.integers(0, 90, n)
    dates = (np.datetime64(f"{year}-01-01") + (quarter - 1) * 91 + days).astype(str)
    company = [
        f'COMPANY {i}, "INC"' if i % 7 == 0 else f"COMPANY {i} INC" for i in ids
    ]
    cols = {
        "cik": pa.array(cik.astype(str)),
        "company": pa.array(company),
        "type": pa.array(_TYPES[rng.choice(3, n, p=[0.6, 0.3, 0.1])]),
        "date": pa.array(dates),
        "complete_text_file_link": pa.array(txt),
        "html_index": pa.array([t[:-4] + "-index.html" for t in txt]),
    }
    for c in _NULL_SEED_COLS:
        cols[c] = pa.nulls(n, pa.string())
    cols["year"] = pa.array(np.full(n, year, dtype=np.int32))
    cols["quarter"] = pa.array(quarter.astype(np.int32))
    cols["row_seq"] = pa.array(row_seq.astype(np.int64))
    cols["host"] = pa.array(list(hosts))
    return pa.table(cols)


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return path


def crawl_seeds(seed: int, job: int, n_urls: int, n_hosts: int) -> pa.Table:
    """``n_urls`` fresh seed rows spread evenly over ``n_hosts`` hosts
    (exactly n_urls/n_hosts rows per host, so a per-host quota of q
    drains in n_urls/(n_hosts·q) waves). Job ``job`` gets its own id
    range, so no URL — and no memoized stub payload — repeats between
    the jobs of a run."""
    rng = np.random.default_rng([seed, job, 1])
    base = 1000 + (seed % 97) * 7000 + job * n_urls
    ids = base + np.arange(n_urls, dtype=np.int64)
    host_names = np.array([f"h{seed % 1000}-{k}.crawl.test" for k in rng.permutation(n_hosts)])
    hosts = host_names[np.arange(n_urls) % n_hosts]
    row_seq = rng.permutation(n_urls) + 1
    return _seed_table(rng, ids, hosts, row_seq, 2022 + seed % 3)


# --------------------------------------------------------------------------
# recrawl_delta
# --------------------------------------------------------------------------

HOT_HOST = "host0.hot.test"


def recrawl_inputs(seed: int, n_old: int, n_hosts: int, n_repeat: int, n_new: int, jobs: int):
    """(old metadata, [per-job seed lists]).

    * old metadata: ``n_old`` previously crawled filings (the seen set).
    * job seeds: ``n_repeat`` rows drawn from the old metadata (already
      seen) plus ``n_new`` new rows, half of them on one hot host and the
      rest spread over the other hosts. Each job has its own new ids.
    """
    rng = np.random.default_rng([seed, 2])
    year = 2021 + seed % 3
    hosts = np.array([f"host{k + 1}.crawl.test" for k in range(n_hosts)])
    old_ids = 1000 + (seed % 31) * 100 + np.arange(n_old, dtype=np.int64)
    old_hosts = hosts[rng.integers(0, n_hosts, n_old)]
    old_seq = np.arange(n_old) + 1
    old = _seed_table(rng, old_ids, old_hosts, old_seq, year)
    job_seeds = []
    for j in range(jobs):
        jr = np.random.default_rng([seed, 3, j])
        pick = jr.choice(n_old, n_repeat, replace=False)
        new_ids = old_ids[-1] + 1 + j * n_new + np.arange(n_new, dtype=np.int64)
        hot = np.zeros(n_new, dtype=bool)
        hot[jr.choice(n_new, n_new // 2, replace=False)] = True
        new_hosts = np.where(hot, HOT_HOST, hosts[jr.integers(0, n_hosts, n_new)])
        new = _seed_table(
            jr, new_ids, new_hosts, n_old + 1 + j * n_new + np.arange(n_new), year
        )
        repeat = old.take(pa.array(pick))
        job_seeds.append(pa.concat_tables([repeat, new]))
    return old, job_seeds


def stub_caption_cols(ids: np.ndarray, year: int) -> tuple[list, list, list, list, list]:
    """image_id (as the crawl derives it from a URL of ``year``) and
    w / h / fmt / caption exactly as the stub origin
    (``fixtures.payload.make_payload_row``) serves them, without
    encoding any pixels."""
    image_id, w, h, fmt, caption = [], [], [], [], []
    for i in ids:
        i = int(i)
        wi, hi = 16 + (i % 3) * 8, 16 + (i % 5) * 4
        if i % 3 == 0:
            f = "jpeg" if i % 21 == 0 else "qnt"
        elif i % 11 == 4:
            f = "bmp"
        elif i % 13 == 6:
            f = "gif"
        elif i % 17 == 8:
            f = "webp"
        else:
            f = "png"
        cik = f"{100000 + i % 997:010d}"
        image_id.append(f"{cik}-{year % 100:02d}-{i:06d}")
        w.append(wi)
        h.append(hi)
        fmt.append(f)
        # the stub origin's caption always carries the "-22-" form
        caption.append(f"image {cik}-22-{i:06d} {wi}x{hi} {f}")
    return image_id, w, h, fmt, caption


PAYLOAD_ARROW_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
        ("decode_ok", pa.string()),
    ]
)


def prior_payload(seed: int, old_ids: np.ndarray, year: int) -> pa.Table:
    """Payload rows of previously fetched filings: the stub origin's
    captions with seed-drawn 64-bit perceptual hashes. Image bytes are
    left out — the near-dup pass reads only caption and phash."""
    rng = np.random.default_rng([seed, 4])
    image_id, w, h, fmt, caption = stub_caption_cols(old_ids, year)
    n = len(old_ids)
    return pa.table(
        {
            "image_id": image_id,
            "bytes": pa.nulls(n, pa.binary()),
            "w": pa.array(w, pa.int32()),
            "h": pa.array(h, pa.int32()),
            "fmt": fmt,
            "caption": caption,
            "phash": pa.array(rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)),
            "decode_ok": pa.array(["ok"] * n),
        },
        schema=PAYLOAD_ARROW_SCHEMA,
    )


def mirror_payload(new_ids: list[int], year: int) -> pa.Table:
    """Re-posts: earlier payload rows whose caption and phash equal what
    the stub origin will serve for the given NEW filings, under their own
    image ids — the near-dup pass must pair each with its new twin."""
    from edgar_crawler_spark.fixtures.payload import make_payload_row

    rows = [make_payload_row(int(i)) for i in new_ids]
    image_id = stub_caption_cols(np.array(new_ids), year)[0]
    return pa.table(
        {
            "image_id": [f"m{iid}" for iid in image_id],
            "bytes": [r["bytes"] for r in rows],
            "w": pa.array([r["w"] for r in rows], pa.int32()),
            "h": pa.array([r["h"] for r in rows], pa.int32()),
            "fmt": [r["fmt"] for r in rows],
            "caption": [r["caption"] for r in rows],
            "phash": pa.array([r["phash"] for r in rows], pa.int64()),
            "decode_ok": ["ok"] * len(rows),
        },
        schema=PAYLOAD_ARROW_SCHEMA,
    )


# --------------------------------------------------------------------------
# extract_filings
# --------------------------------------------------------------------------

CSV_COLUMNS = [
    "CIK", "Company", "Type", "Date", "complete_text_file_link", "html_index",
    "Filing Date", "Period of Report", "SIC", "htm_file_link",
    "State of Inc", "State location", "Fiscal Year End", "filename",
]


def html_pads(n: int) -> np.ndarray:
    """Padding, in 129-byte paragraphs, of ``n`` HTML filings: the
    quantiles of ``min(6 * Lomax(1.3), 400)`` at ``(k + 0.5) / n``.

    Median pad about 0.5 KB; with n = 200 the longest filing carries the
    cap (about 52 KB) and the next ones 33, 22 and 17 KB. The quantiles
    are fixed, so every seed has the same lengths (the seed only decides
    which filing gets which). The shape (α = 1.3, scale 6, cap 400) is an
    assumption, not fitted to real filings: the repository holds none to
    fit it to. It gives a long right tail, a few filings much longer
    than the rest; ``extract.task_skew`` reports what that does to the
    extraction stage's tasks."""
    u = (np.arange(n) + 0.5) / n
    return np.minimum(((1 - u) ** (-1 / 1.3) - 1) * 6, 400).astype(int)


def _html_doc(i: int, ftype: str, pad: int) -> tuple[dict, str]:
    """A synthetic HTML filing (``fixtures.raw_documents``, 1.6–11 KB)
    whose first item body is padded with ``pad`` paragraphs."""
    from edgar_crawler_spark.fixtures import raw_documents as rd

    content = {"10-K": rd.make_10k, "10-Q": rd.make_10q, "8-K": rd.make_8k}[ftype](i)
    content = content.replace("</div>\n<div>", "</div>\n<div>" + rd._LOREM * pad, 1)
    cik = str(200000 + i)
    md = {
        "CIK": cik,
        "Company": f"HTML FILER {i} INC",
        "Type": ftype,
        "Date": "2022-02-01",
        "complete_text_file_link": f"https://www.sec.gov/Archives/edgar/data/{cik}/{i}.txt",
        "html_index": f"https://www.sec.gov/Archives/edgar/data/{cik}/{i}-index.html",
        "Filing Date": "2022-02-01",
        "Period of Report": "2022-01-31",
        "SIC": "3572",
        "htm_file_link": f"https://www.sec.gov/Archives/edgar/data/{cik}/{i}.htm",
        "State of Inc": "DE",
        "State location": "CA",
        "Fiscal Year End": "1231",
        "filename": f"{cik}_{ftype.replace('-', '')}_2022_{i:06d}.htm",
    }
    return md, content


def extract_inputs(root: str, seed: int, n_plain: int, n_html: int) -> dict:
    """A raw-filings folder (``RAW/{Type}/{filename}``) plus its metadata
    CSV: the 144 minted-golden plain-text filings, ``n_plain`` further
    seed-chosen plain-text 10-K/10-Q/old-8-K filings and ``n_html`` HTML
    filings with heavy-tailed lengths (``html_pads``).

    Returns ``{raw_dir, csv, docs: [(filename, type, golden form|None)]}``;
    a golden form is named only for filings minted with the CLI's
    default flags (remove_tables on, include_signature off) — the flags
    this one-invocation job extracts with.
    """
    from edgar_crawler_spark.config import EXTRACT_DEFAULTS
    from edgar_crawler_spark.fixtures.filing_corpus import CORPUS_SIZES, corpus_entry

    rng = np.random.default_rng([seed, 5])
    flags = (EXTRACT_DEFAULTS["remove_tables"], EXTRACT_DEFAULTS["include_signature"])
    docs: list[tuple[dict, str, str | None]] = []
    for form, n in CORPUS_SIZES.items():
        for i in range(n):
            e = corpus_entry(form, i)
            same = (e["remove_tables"], e["include_signature"]) == flags
            docs.append((e["metadata"], e["content"], form if same else None))
    forms = list(CORPUS_SIZES)
    # a run of consecutive ids from a seed-chosen start: the corpus
    # generator's filing lengths vary with the id (10-Qs from 4 to 52 KB)
    # but evenly along the ids, so any run of 200 carries the same bytes
    # within about 1 %, where 200 random ids vary by about 6 %
    start = int(rng.integers(1000, 200000 - n_plain))
    for k in range(n_plain):
        e = corpus_entry(forms[k % len(forms)], start + k)
        docs.append((e["metadata"], e["content"], None))
    pads = rng.permutation(html_pads(n_html))
    html_ids = rng.choice(np.arange(0, 100000), n_html, replace=False)
    for k, (i, pad) in enumerate(zip(html_ids, pads)):
        md, content = _html_doc(int(i), ["10-K", "10-Q", "8-K"][k % 3], int(pad))
        docs.append((md, content, None))

    raw_dir = os.path.join(root, "RAW")
    csv = os.path.join(root, "FILINGS_METADATA.csv")
    rows, listing = [], []
    for md, content, golden in docs:
        d = os.path.join(raw_dir, md["Type"])
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, md["filename"]), "w", encoding="utf-8") as f:
            f.write(content)
        rows.append({c: md.get(c) for c in CSV_COLUMNS})
        listing.append((md["filename"], md["Type"], golden))
    pd.DataFrame(rows, columns=CSV_COLUMNS).to_csv(csv, index=False)
    return {"raw_dir": raw_dir, "csv": csv, "docs": listing}


def load_goldens(forms) -> dict:
    base = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "fixtures", "minted_goldens")
    out = {}
    for form in forms:
        with open(os.path.join(base, f"{form}.json")) as f:
            out[form] = json.load(f)
    return out


# --------------------------------------------------------------------------
# curate_sql: the catalog's star schema + text/vector/event tables
# --------------------------------------------------------------------------

_VOCAB = (
    "spark scan filter join agg sort hash group window stream batch table "
    "column row key value order part line query vector data fast slow big "
    "small merge customer the a of and to in"
).split()


def sf_tables(root: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """The catalog's ten tables at scale factor ``sf`` (0.1 → 600k
    lineitem rows), values drawn from the seed. Returns row counts."""
    rng = np.random.default_rng([seed, 6])
    os.makedirs(root, exist_ok=True)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ev, n_docs, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    day = np.timedelta64(1, "D")
    t0 = np.datetime64("1995-01-01")

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"NATION_{k}" for k in range(25)],
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["large", "hot", "blue", "small", "red", "green", "cold", "tiny"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "cog", "plate"])
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"])[
            rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    odate = t0 + rng.integers(0, 2405, n_ord) * day
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)],
    })
    # ~1.8% of orders get no lineitem, so the anti-join has survivors
    okeys = rng.choice(n_ord, int(n_ord * 0.982), replace=False)
    li_order = okeys[rng.integers(0, len(okeys), n_li)]
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": li_order.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array((t0 + rng.integers(0, 2500, n_li) * day).astype("datetime64[us]")),
    })
    us = rng.integers(0, 30 * 86400 * 10**6, n_ev)
    us.sort()
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(1, n_ev // 66), n_ev),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lens = rng.integers(8, 70, n_docs)
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), m)]) for m in lens]
    # exact copies and one-token edits, so the dedup queries find pairs
    for k in range(0, n_docs, 97):
        src = texts[int(rng.integers(0, n_docs))]
        texts[k] = src if k % 2 == 0 else src + " " + str(vocab[k % len(vocab)])
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "de", "fr", "es", "zh"])[rng.integers(0, 6, n_docs)],
        "source": np.char.add("src", (np.arange(n_docs) % 5).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    emb = (centers[labels] + rng.normal(0, 0.8, (n_emb, 64))).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return {
        "lineitem": n_li, "orders": n_ord, "customer": n_cust, "part": n_part,
        "supplier": n_supp, "events": n_ev, "documents": n_docs, "embeddings": n_emb,
    }

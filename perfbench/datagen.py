"""Seeded inputs of the three workloads.

- ``write_tables``: the synthetic star schema plus ``documents``,
  ``embeddings`` and ``events`` that ``__spark_entry__.queries()`` reads,
  with the column types and value shapes of the project's test data.
- ``ingest_file_lines``: one file of NDJSON envelope lines for the live
  ingest path, with a few malformed lines at seeded positions.
- ``rest_pages``: OpenAlex-shaped REST pages of nested work records for
  the producer CLI's fake transport.

Every generator is a pure function of its arguments: the same seed gives
the same bytes.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "SMALL", "LARGE", "STANDARD", "MEDIUM", "PROMO")
P_ADJ = ("small", "red", "blue", "green", "large", "steel", "black", "white")
P_NOUN = ("ring", "widget", "bolt", "gear", "nut", "panel", "valve", "spring")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EMBED_DIM = 64


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return (rng.integers(lo, hi + 1, n)).astype("datetime64[D]").astype(
        "datetime64[us]"
    )


def _write(pa_table, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(pa_table, path)


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten tables at scale factor ``sf`` as ``<name>.parquet``."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_docs = int(50_000 * sf)
    n_vec = int(20_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)

    def t(path, cols):
        _write(pa.table(cols), os.path.join(out_dir, f"{path}.parquet"))

    t("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    t("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    t("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line)),
    })

    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
        texts.append(" ".join(VOCAB[w] for w in words))
    langs = [c for c, _ in LANGS]
    probs = np.array([p for _, p in LANGS])
    t("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [langs[i] for i in rng.choice(5, n_docs, p=probs / probs.sum())],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })

    vecs = rng.normal(size=(n_vec, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t("embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })

    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, n_ev))
    t("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })


# --------------------------------------------------------------------------
# live ingest


def iso_us(epoch_us: int) -> str:
    """ISO-8601 UTC with microseconds, the wire format of ``event_ts``."""
    dt = datetime(1970, 1, 1, tzinfo=timezone.utc) + timedelta(
        microseconds=epoch_us
    )
    return dt.strftime("%Y-%m-%dT%H:%M:%S.%f+00:00")


def malformed_positions(seed: int, file_idx: int, lines: int,
                        rate: float) -> set[int]:
    """Seeded positions of the malformed lines in one file."""
    rng = np.random.default_rng([seed, file_idx])
    return set(np.flatnonzero(rng.random(lines) < rate).tolist())


def ingest_template(seed: int, file_idx: int, lines: int,
                    bad: set[int]) -> list[str]:
    """The lines of one ingest file with a ``{TS}`` placeholder for the due
    time, which the generator fills in when the file is due.

    A good line is a compact envelope whose id is ``L<file>-<line>``; a
    malformed one is a truncated envelope whose id is ``M<file>-<line>``,
    so dead letters can be matched back to where they were injected.
    """
    rng = np.random.default_rng([seed, file_idx, 1])
    authors = rng.integers(0, 5000, lines)
    years = rng.integers(1990, 2026, lines)
    out = []
    for i in range(lines):
        if i in bad:
            out.append('{"id":"M%d-%d","title":"cut' % (file_idx, i))
            continue
        out.append(
            '{"id":"L%d-%d","doi":"10.5555/%d.%d","title":"Work %d of file %d",'
            '"publication_year":"%d","host_venue":"Venue %d",'
            '"primary_author":"Author %d","email":"author%d@example.org",'
            '"event_ts":"{TS}","ingest_ts":"{TS}","source":"perfbench",'
            '"_LOAD_ID":"%d-%d"}'
            % (file_idx, i, file_idx, i, i, file_idx, years[i], authors[i] % 97,
               authors[i], authors[i], file_idx, i)
        )
    return out


# --------------------------------------------------------------------------
# REST pages for the producer


def rest_pages(seed: int, first_page: int, n_pages: int,
               per_page: int) -> list[list[dict]]:
    """Nested OpenAlex works, ``per_page`` to a page. Some works lack the
    venue, the authorships or the email, some authorships are empty, and
    some years are numeric strings."""
    pages = []
    for p in range(first_page, first_page + n_pages):
        rng = np.random.default_rng([seed, p])
        roll = rng.random((per_page, 5))
        page = []
        for i in range(per_page):
            r = roll[i]
            year = int(1990 + (p * per_page + i) % 36)
            work = {
                "id": f"W{p}-{i}",
                "doi": f"10.4242/{p}.{i}",
                "title": f"Study {i} on page {p}",
                "publication_year": str(year) if r[0] < 0.1 else year,
                "extra_field": "ignored",
            }
            if r[1] >= 0.15:
                work["host_venue"] = {"display_name": f"Venue {i % 41}"}
            if r[2] < 0.1:
                work["authorships"] = []
            elif r[2] < 0.9:
                work["authorships"] = [
                    {"author": {"display_name": f"Author {p}-{i}"}},
                    {"author": {"display_name": "Second Author"}},
                ]
            if r[3] < 0.3:
                work["email"] = f"w{p}x{i}@example.edu"
            page.append(work)
        pages.append(page)
    return pages

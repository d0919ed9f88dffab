"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, scale)``: the same seed
writes byte-identical parquet files. The program under test only ever
sees the files; it never receives the seed.

* ``write_tables`` — the ten driver tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) at scale factor ``sf``.
  Row counts, column types, value domains and distributions follow the
  project's seed-42 sf0.1 tables (see ``TESTDATA.md``), which were
  profiled column by column: at ``sf=0.1`` every table has the same row
  count, and distinct-value counts, ranges, means and duplicate rates
  (5% near-duplicate documents, 0.16% exact ones) match within sampling
  noise.
* ``write_transcripts`` — conversations from the program's own
  ``synth.generate_transcripts``, optionally with one long conversation.
* ``derive_transcript_rows`` — a plain-Python copy of
  ``flagship.derive_transcripts`` (events → turns), used to compute the
  oracle triples for the events-driven workload.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)
EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (
    ["large", "hot", "cold", "red", "blue", "old", "small", "new"],
    ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"],
)
DOC_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _write(path: str, cols: dict[str, pa.Array]) -> None:
    # one file, one row group: the same layout as the sf testdata tables
    pq.write_table(pa.table(cols), path, row_group_size=1 << 30)


def _days(rng: np.random.Generator, start: dt.date, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def events_columns(rng: np.random.Generator, n_users: int, n_events: int) -> dict[str, pa.Array]:
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + rng.integers(0, 30 * 86_400 * 1_000_000, n_events).astype("timedelta64[us]")
    return {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    }


def write_events(out_dir: str, seed: int, n_users: int, n_events: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    _write(os.path.join(out_dir, "events.parquet"), events_columns(rng, n_users, n_events))
    return out_dir


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the ten driver tables at scale factor ``sf`` (sf0.1: 600k
    lineitems, 150k orders, 100k events over 1,500 users, 5,000
    documents, 2,000 embeddings)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 200)
    n_users = max(int(15_000 * sf), 20)
    n_docs = max(int(50_000 * sf), 100)
    n_emb = max(int(20_000 * sf), 100)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    _write(p("region"), {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(p("nation"), {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write(p("customer"), {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    w1, w2 = (np.array(w) for w in PART_WORDS)
    _write(p("part"), {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(w1[rng.integers(0, len(w1), n_part)], " "),
                                       w2[rng.integers(0, len(w2), n_part)])),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)),
    })
    odate = _days(rng, dt.date(1995, 1, 1), 2405, n_ord)
    _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    # line items point at uniformly drawn orders (1-17 lines per order at
    # sf0.1); line number, ship date and price are drawn independently
    n_li = max(int(6_000_000 * sf), 600)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(p("lineitem"), {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), 2499, n_li)),
    })
    _write(p("events"), events_columns(rng, n_users, max(int(1_000_000 * sf), 1000)))

    # base texts of 10-99 words; 5% of the documents copy a distinct base
    # text with " dup" appended, 0.16% copy one exactly; then the order is
    # shuffled
    vocab = np.array(DOC_WORDS)
    n_near, n_exact = n_docs // 20, max(n_docs * 8 // 5000, 1)
    n_base = n_docs - n_near - n_exact
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
             for _ in range(n_base)]
    texts += [texts[k] + " dup" for k in rng.choice(n_base, n_near, replace=False)]
    texts += [texts[k] for k in rng.choice(n_base, n_exact, replace=False)]
    texts = [texts[k] for k in rng.permutation(n_docs)]
    _write(p("documents"), {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    emb = rng.normal(0.0, 0.125, (n_emb, 64)).astype(np.float32)
    _write(p("embeddings"), {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
    return out_dir


def write_transcripts(
    path: str, seed: int, n_conversations: int, long_turns: int = 40
) -> list[dict]:
    """``synth.generate_transcripts`` rows (conversation 0 has
    ``long_turns`` turns, the rest 3-40) written to one parquet file."""
    from bionext_spark import synth

    rows = synth.generate_transcripts(
        n_conversations=n_conversations, skew_conversation_turns=long_turns, seed=seed
    )
    cols = {k: [r[k] for r in rows] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    table = pa.table({
        "conv_id": pa.array(cols["conv_id"], pa.string()),
        "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
        "role": pa.array(cols["role"], pa.string()),
        "text": pa.array(cols["text"], pa.string()),
        "tool": pa.array(cols["tool"], pa.string()),
        "ts": pa.array(cols["ts"], pa.timestamp("us")),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return rows


def derive_transcript_rows(events_path: str) -> list[dict]:
    """Plain-Python ``flagship.derive_transcripts`` (replicate 1): one
    conversation per user, turns ordered by (ts, event_id)."""
    from bionext_spark.flagship import _TURN_TEXT

    t = pq.read_table(events_path, columns=["event_id", "ts", "user_id", "event_type"])
    ev = sorted(
        zip(t["user_id"].to_pylist(), t["ts"].to_pylist(), t["event_id"].to_pylist(),
            t["event_type"].to_pylist())
    )
    roles = ("user", "assistant", "tool")
    rows, prev, idx = [], None, 0
    for user, ts, _eid, etype in ev:
        idx = idx + 1 if user == prev else 0
        prev = user
        rows.append({
            "conv_id": f"u{user}", "turn_idx": idx, "role": roles[idx % 3],
            "text": _TURN_TEXT.get(etype, "no entities here"), "tool": etype, "ts": ts,
        })
    return rows


def read_rows(path: str) -> list[dict]:
    """Parquet rows as plain dicts (the shape ``oracle.run_pipeline`` takes)."""
    return pq.read_table(path).to_pylist()


def row_count(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows

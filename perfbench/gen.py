"""Seeded input generator for the benchmark.

Every table is derived from ``numpy.random.default_rng`` seeded with
``(seed, stream)`` so the same seed gives byte-identical parquet files, and
every seed gives the same schemas, row counts and near-duplicate share.  The
value domains mirror the engine's test tables (TPC-H-like star schema, an
``events`` stream, a ``documents`` corpus and ``embeddings``); row counts are
the sf0.1 counts times ``scale``.

What ``generate`` writes under ``out_dir`` for each workload:

- ``analytics``: ``<table>.parquet`` for all ten tables at
  ``ANALYTICS_SCALE``.
- ``llm_pipeline``: ``documents``, ``embeddings`` and ``events`` at
  ``LLM_SCALE``; documents carry a fixed share of token-edited and exact
  copies, embeddings a fixed share of jittered copies.  Unlike the engine's
  test corpus (30 words shared by every language, so random documents
  already look alike and every term's idf is 0), each language draws from
  its own Zipf-ranked vocabulary that overlaps its neighbours', so random
  documents are far apart and near-duplicates come from the seeded copies.
- ``ingest``: ``open/NNNNN.parquet`` (one file per ``INGEST_INTERVAL_S`` of
  the run), ``backlog/NNNNN.parquet`` and a one-row
  ``schema/events.parquet`` whose schema the stream reads; ``event_id``s are
  unique across all files.

Run as ``python3 perfbench/gen.py OUT_DIR --seed N --workload NAME
--seconds S``.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
    "part": 20000, "orders": 150000, "lineitem": 600000, "events": 100000,
    "documents": 5000, "embeddings": 2000,
}
ANALYTICS_SCALE = 0.1
LLM_SCALE = 0.1

# Shares of the LLM corpus fixed independently of the seed.
NEAR_DUP_SHARE = 0.10    # documents that are token-edited copies of another
EXACT_DUP_SHARE = 0.02   # documents that repeat another verbatim
JITTER_SHARE = 0.10      # embeddings that are jittered copies of another

# The open loop lands one file every INGEST_INTERVAL_S for the run's
# seconds at INGEST_RATE events/s, the rate the engine's ingest was sized at
# (20k events/s, about a third of its measured 60k events/s drain rate).
INGEST_RATE = 20_000
INGEST_INTERVAL_S = 0.05
INGEST_OPEN_EVENTS = int(INGEST_RATE * INGEST_INTERVAL_S)
# Backlog drains read files of the size the engine's 1M-event drain was
# measured with (20 files of 50k events); how many files one drain reads is
# set by the benchmark's time budget.
INGEST_BACKLOG_FILES = 4
INGEST_BACKLOG_EVENTS = 50_000

# Document vocabulary: FUNCTION_WORDS are the top ranks of every language;
# the other ranks of language i are the LANG_VOCAB - len(FUNCTION_WORDS)
# content words starting at i * LANG_OFFSET, so a content word is used by
# one to three languages.  Ranks are drawn with Zipf exponent ZIPF_S.
FUNCTION_WORDS = (
    "the a of and to in is it for on with as at by from this that or be are"
).split()
LANG_VOCAB = 3000
LANG_OFFSET = 1000
ZIPF_S = 1.1
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000      # 1995-01-01 in µs
EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01 in µs
STREAM_IDS = {name: i for i, name in enumerate(
    ("customer", "supplier", "part", "orders", "lineitem", "events",
     "documents", "embeddings", "ingest_open", "ingest_backlog"))}


def rows(table: str, scale: float) -> int:
    if table in ("region", "nation"):
        return SF01_ROWS[table]
    return max(1, int(round(SF01_ROWS[table] * scale)))


def _rng(seed: int, stream: str, part: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, STREAM_IDS[stream], part])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def gen_region() -> pa.Table:
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": list(REGIONS)})


def gen_nation() -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def gen_customer(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "customer")
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": _names("Customer", n),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })


def gen_supplier(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": _names("Supplier", n),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def gen_part(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "part")
    adj = np.array(ADJ)[rng.integers(0, len(ADJ), n)]
    noun = np.array(NOUN)[rng.integers(0, len(NOUN), n)]
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
    })


def gen_orders(seed: int, n: int, n_cust: int) -> pa.Table:
    rng = _rng(seed, "orders")
    days = rng.integers(0, 2404, n)   # 1995-01-01 .. 2001-08-01
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(EPOCH_1995 + days * US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def gen_lineitem(seed: int, n: int, n_orders: int, n_part: int,
                 n_supp: int) -> pa.Table:
    rng = _rng(seed, "lineitem")
    days = rng.integers(1, 2499, n)   # 1995-01-02 .. 2001-11-04
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(EPOCH_1995 + days * US_PER_DAY),
    })


def gen_events(rng: np.random.Generator, first_id: int, n: int,
               n_users: int, t0_us: int, span_us: int) -> pa.Table:
    """Events with ids ``first_id..first_id+n-1`` and ascending ``ts``
    spread over ``[t0_us, t0_us + span_us)``."""
    ts = t0_us + np.sort(rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _users(scale: float) -> int:
    return max(1, int(round(1500 * scale)))


def _word(i: int) -> str:
    """Content word ``i``: two or more consonant-vowel syllables."""
    cons, vows = "bdfgklmnprstvz", "aeiou"
    syl = [c + v for c in cons for v in vows]
    out = ""
    while True:
        out = syl[i % len(syl)] + out
        i //= len(syl)
        if i == 0 and len(out) >= 4:
            return out


def lang_vocab(lang: int) -> list[str]:
    """Language ``lang``'s words, most frequent first."""
    n_content = LANG_VOCAB - len(FUNCTION_WORDS)
    first = lang * LANG_OFFSET
    return FUNCTION_WORDS + [_word(i) for i in range(first, first + n_content)]


def gen_documents(seed: int, n: int) -> pa.Table:
    """Zipf-drawn documents in their language's vocabulary; a slice of
    ``NEAR_DUP_SHARE`` and one of ``EXACT_DUP_SHARE`` of the documents (by
    count, so the shares are seed-independent) are rewritten as copies of
    base documents, with the original's language and source.  A near copy
    substitutes ``1 + len // 20`` of its tokens, each with another word of
    the language, which keeps its token-set Jaccard with the original well
    above 0.5."""
    rng = _rng(seed, "documents")
    vocabs = [np.array(lang_vocab(i)) for i in range(len(LANGS))]
    zipf = 1.0 / np.arange(1, LANG_VOCAB + 1) ** ZIPF_S
    zipf /= zipf.sum()
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    source = np.arange(n) % 20
    lengths = rng.integers(10, 101, n)
    docs = [list(vocabs[g][rng.choice(LANG_VOCAB, k, p=zipf)])
            for g, k in zip(lang, lengths)]
    n_near = int(round(n * NEAR_DUP_SHARE))
    n_exact = int(round(n * EXACT_DUP_SHARE))
    n_base = n - n_near - n_exact
    copies = rng.permutation(np.arange(n_base, n))
    for i, dst in enumerate(copies):
        src = int(rng.integers(0, n_base))
        toks = list(docs[src])
        if i < n_near:
            vocab = vocabs[lang[src]]
            for pos in rng.choice(len(toks), 1 + len(toks) // 20,
                                  replace=False):
                shift = int(rng.integers(1, LANG_VOCAB))
                rank = int(np.flatnonzero(vocab == toks[pos])[0])
                toks[pos] = vocab[(rank + shift) % LANG_VOCAB]
        docs[dst] = toks
        lang[dst], source[dst] = lang[src], source[src]
    text = [" ".join(t) for t in docs]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": np.array(LANGS)[lang],
        "source": [f"src{i}" for i in source],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def gen_embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    rng = _rng(seed, "embeddings")
    x = rng.standard_normal((n, dim))
    n_jit = int(round(n * JITTER_SHARE))
    n_base = n - n_jit
    for dst in rng.permutation(np.arange(n_base, n)):
        x[dst] = x[int(rng.integers(0, n_base))] + rng.normal(0, 0.02, dim)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def gen_dataset(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables at ``scale``."""
    n = {t: rows(t, scale) for t in SF01_ROWS}
    return {
        "region": gen_region(),
        "nation": gen_nation(),
        "customer": gen_customer(seed, n["customer"]),
        "supplier": gen_supplier(seed, n["supplier"]),
        "part": gen_part(seed, n["part"]),
        "orders": gen_orders(seed, n["orders"], n["customer"]),
        "lineitem": gen_lineitem(seed, n["lineitem"], n["orders"],
                                 n["part"], n["supplier"]),
        "events": gen_events(_rng(seed, "events"), 0, n["events"],
                             _users(scale), EPOCH_2024, 30 * US_PER_DAY),
        "documents": gen_documents(seed, n["documents"]),
        "embeddings": gen_embeddings(seed, n["embeddings"]),
    }


def gen_corpus(seed: int, scale: float) -> dict[str, pa.Table]:
    """The tables the LLM pipeline reads, at ``scale``."""
    return {
        "events": gen_events(_rng(seed, "events"), 0, rows("events", scale),
                             _users(scale), EPOCH_2024, 30 * US_PER_DAY),
        "documents": gen_documents(seed, rows("documents", scale)),
        "embeddings": gen_embeddings(seed, rows("embeddings", scale)),
    }


def gen_ingest_file(seed: int, kind: str, idx: int) -> pa.Table:
    """One landed file.  ``event_id``s never repeat across files or kinds;
    each file covers its own hour of event time."""
    if kind == "open":
        n, base, stream = INGEST_OPEN_EVENTS, 0, "ingest_open"
    else:
        n = INGEST_BACKLOG_EVENTS
        base = 1 << 40   # above every open-loop id
        stream = "ingest_backlog"
    hour = 3_600_000_000
    return gen_events(_rng(seed, stream, idx), base + idx * n, n, 1500,
                      EPOCH_2024 + (idx + (kind != "open") * 1000) * hour,
                      hour)


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def open_files(seconds: float) -> int:
    return max(1, int(seconds / INGEST_INTERVAL_S))


def generate(out_dir: str, seed: int, workload: str, seconds: float) -> None:
    """Write the inputs ``workload`` reads in a run of ``seconds``."""
    if workload == "analytics":
        for name, t in gen_dataset(seed, ANALYTICS_SCALE).items():
            write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    elif workload == "llm_pipeline":
        for name, t in gen_corpus(seed, LLM_SCALE).items():
            write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    elif workload == "ingest":
        for i in range(open_files(seconds)):
            write_table(gen_ingest_file(seed, "open", i),
                        os.path.join(out_dir, "open", f"{i:05d}.parquet"))
        for i in range(INGEST_BACKLOG_FILES):
            write_table(gen_ingest_file(seed, "backlog", i),
                        os.path.join(out_dir, "backlog", f"{i:05d}.parquet"))
        write_table(gen_ingest_file(seed, "open", 0).slice(0, 1),
                    os.path.join(out_dir, "schema", "events.parquet"))
    else:
        raise ValueError(f"unknown workload {workload!r}")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args(argv)
    generate(args.out_dir, args.seed, args.workload, args.seconds)


if __name__ == "__main__":
    main()

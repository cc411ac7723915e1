"""Seeded input generator for the benchmark.

Three inputs, all written under the work directory and reused across runs:

* ``fixture/`` -- the tables of the fixture TESTDATA.md describes (the
  star schema plus ``events``, ``documents`` and ``embeddings``, all
  loaded through ``graft.Tables``), with the same columns and value
  distributions, at scale factor ``SF``. It is
  generated from a FIXED seed, so every run reads the same fixture; the
  run seed only reorders the finance_mix passes (done in the JVM).
* ``corpus_v<k>/documents.parquet`` -- the corpus_pipeline replica:
  ``CORPUS_DOCS`` documents from the fixture's document generator, drawn
  with replica seed k = run seed mod ``CORPUS_VARIANTS``, so the seed
  perturbs every text while the vocabulary, length, language and
  near-duplicate structure stay those of the fixture. The pipeline's
  outputs for every replica are committed in expected_corpus.json.
* ``stream_<seed>.parquet`` -- the fixture's events in timestamp order,
  cut into fixed-size micro-batches, with the order of events WITHIN
  each batch shuffled by the run seed. The ``batch`` column numbers the
  micro-batches and ``seq`` is the feed order.

Generation time is not part of any metric.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
SF = 0.01
CORPUS_DOCS = 2000
CORPUS_VARIANTS = 8
STREAM_BATCH = 2500
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo_day, hi_day, n):
    return EPOCH_1995 + rng.integers(lo_day, hi_day + 1, n).astype("timedelta64[D]")


def documents(rng, n: int) -> pa.Table:
    """n documents of 10-100 words from the fixture vocabulary; 5% are a
    copy of an earlier document with a " dup" suffix (the near-duplicate
    family the dedup stages exist for)."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def fixture(out: str) -> None:
    rng = np.random.default_rng(FIXTURE_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * SF), int(10000 * SF), int(200000 * SF)
    n_ord, n_line = int(1500000 * SF), int(6000000 * SF)
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    _write(pa.table({
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    }), f"{out}/nation.parquet")
    ck = np.arange(n_cust, dtype=np.int64)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")
    sk = np.arange(n_supp, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(["red", "new", "hot", "small", "cold", "large", "old", "blue"])
    noun = np.array(["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"])
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, 1, 2499, n_line),
    }), f"{out}/lineitem.parquet")
    n_ev = int(1000000 * SF)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * 86400 * 10**6, n_ev))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")
    _write(documents(rng, int(50000 * SF)), f"{out}/documents.parquet")
    n_emb = int(20000 * SF)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb)),
    }), f"{out}/embeddings.parquet")


def corpus_variant(seed: int) -> int:
    return seed % CORPUS_VARIANTS


def corpus(out: str, variant: int) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([variant, 1])
    _write(documents(rng, CORPUS_DOCS), f"{out}/documents.parquet")


def stream(fixture_dir: str, out: str, seed: int) -> None:
    ev = pq.read_table(f"{fixture_dir}/events.parquet",
                       columns=["event_id", "user_id", "ts", "value", "props"])
    ev = ev.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n = ev.num_rows
    rng = np.random.default_rng([seed, 2])
    order = np.concatenate([lo + rng.permutation(min(STREAM_BATCH, n - lo))
                            for lo in range(0, n, STREAM_BATCH)])
    ev = ev.take(pa.array(order))
    ev = ev.append_column("batch", pa.array(np.arange(n, dtype=np.int32) // STREAM_BATCH))
    ev = ev.append_column("seq", pa.array(np.arange(n, dtype=np.int64)))
    _write(ev, out)


def ensure(work: str, workload: str, seed: int) -> dict:
    """Generate what ``workload`` needs under ``work`` unless present;
    returns the paths the JVM harness reads."""
    fx = os.path.join(work, "fixture")
    if not os.path.exists(os.path.join(fx, "_OK")):
        fixture(fx)
        open(os.path.join(fx, "_OK"), "w").close()
    paths = {"fixture": fx}
    if workload == "corpus_pipeline":
        cd = os.path.join(work, f"corpus_v{corpus_variant(seed)}")
        if not os.path.exists(os.path.join(cd, "_OK")):
            corpus(cd, corpus_variant(seed))
            open(os.path.join(cd, "_OK"), "w").close()
        paths["corpus"] = cd
    if workload in ("stream_twins", "corpus_pipeline"):
        sp = os.path.join(work, f"stream_{seed}.parquet")
        if not os.path.exists(sp):
            stream(fx, sp, seed)
        paths["stream"] = sp
    return paths

"""Seeded inputs for the benchmark: fixture tables and request streams.

Everything here is a pure function of the seed, so two runs with the same
seed see byte-identical parquet files and identical request/DML streams.

The tables mirror the shape of the engine's fixtures (TESTDATA.md and
FIXTURES.md: a TPC-H-ish star schema plus `events`, `documents` and
`embeddings`): same columns,
physical parquet types, value domains and distributions, at a chosen
scale factor.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = "large hot blue old cold red small big".split()
PART_NOUN = "ring bolt plate gear widget rod anvil pipe".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DIM = 64
US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def corpus(rng, n_docs):
    """Documents with 5 % near-duplicates (another doc's text + ' dup')."""
    lens = rng.integers(10, 101, n_docs)
    word_ix = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(WORDS[i] for i in word_ix[at:at + ln]))
        at += ln
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    for d in dups:
        texts[d] = texts[int(rng.integers(0, n_docs))].removesuffix(" dup") + " dup"
    langs = rng.choice(LANGS, n_docs, p=LANG_P)
    return texts, [str(x) for x in langs]


def unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def tables(out_dir, seed, sf):
    """Write the ten fixture tables at scale factor `sf`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    _write(out_dir, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                               "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * US_PER_DAY)})
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts, langs = corpus(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts, "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = unit_vectors(rng, n_emb)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32)})


def zipf_terms(rng, k):
    """k distinct vocabulary terms, Zipf-skewed so hot posting lists repeat."""
    w = 1.0 / np.arange(1, len(WORDS) + 1) ** 1.1
    return [WORDS[i] for i in rng.choice(len(WORDS), k, replace=False, p=w / w.sum())]


def _docs(rng, ids, tag):
    texts, langs = corpus(rng, len(ids))
    return [{"doc_id": int(i), "text": t, "lang": l, "source": tag,
             "n_chars": len(t)} for i, t, l in zip(ids, texts, langs)]


def row_bytes(row):
    """Bytes of user data in one row, as submitted."""
    return 16 + sum(len(row[c].encode()) for c in ("text", "lang", "source"))


# Statement kinds in a fixed order, 40 % INSERT, 30 % MERGE, 15 % UPDATE and
# 15 % DELETE in every 20, so that runs with different seeds measure the same
# mix; the seed decides what each statement writes. Likewise 70 % point
# lookups and 30 % text searches for the reader.
WRITE_CYCLE = "imiumidmiuimdimiumid"
READ_CYCLE = "llsllslsll"
WARMUP = 2
KINDS = {"i": "insert", "m": "merge", "u": "update", "d": "delete",
         "l": "lookup", "s": "search"}


def dml_plan(seed, n_docs, table, index, batch_dir, buckets=4, n_writer=80,
             n_reader=600):
    """The `manifest_dml` streams. The writer's first WARMUP ops belong to
    set-up: an INSERT and the index sync that folds it in. Then it cycles
    through WRITE_CYCLE. Returns
    (initial rows, writer ops, reader ops, check term sets)."""
    rng = np.random.default_rng([seed, 2])
    initial = _docs(rng, range(n_docs), "seed")
    live = set(range(n_docs))
    next_id = n_docs
    cat = f"graft_manifest.`{table}`"
    os.makedirs(batch_dir, exist_ok=True)
    kinds = ["insert", "index"] + [
        KINDS[WRITE_CYCLE[i % len(WRITE_CYCLE)]] for i in range(n_writer)]
    writer = []
    for i, kind in enumerate(kinds):
        op = {"kind": kind}
        if kind == "index":
            writer.append(op)
            continue
        if kind in ("insert", "merge"):
            ids = list(range(next_id, next_id + (50 if kind == "insert" else 25)))
            next_id = ids[-1] + 1
            if kind == "merge":
                ids += [int(k) for k in rng.choice(sorted(live), 25, replace=False)]
            rows = _docs(rng, ids, f"w{i}")
            path = os.path.join(batch_dir, f"b{i}.parquet")
            pq.write_table(pa.Table.from_pylist(rows), path)
            src = (f"(SELECT doc_id, text, lang, source, n_chars, "
                   f"graft_manifest.bucket({buckets}, doc_id) AS bucket "
                   f"FROM parquet.`{path}`)")
            op["rows"] = rows
            op["sql"] = (f"INSERT INTO {cat} SELECT * FROM {src}" if kind == "insert"
                         else f"MERGE INTO {cat} t USING {src} s ON t.doc_id = s.doc_id "
                              "WHEN MATCHED THEN UPDATE SET * "
                              "WHEN NOT MATCHED THEN INSERT *")
            live.update(ids)
        elif kind == "update":
            lo = int(rng.choice(sorted(live)))
            op.update(lo=lo, hi=lo + 19, value=f"u{i}")
            op["sql"] = (f"UPDATE {cat} SET source = 'u{i}' "
                         f"WHERE doc_id BETWEEN {lo} AND {lo + 19}")
        else:
            keys = [int(k) for k in rng.choice(sorted(live), 10, replace=False)]
            live.difference_update(keys)
            op["keys"] = keys
            op["sql"] = f"DELETE FROM {cat} WHERE doc_id IN ({', '.join(map(str, keys))})"
        writer.append(op)
    reader = []
    for i in range(n_reader):
        if READ_CYCLE[i % len(READ_CYCLE)] == "l":
            keys = rng.choice(n_docs, int(rng.integers(1, 9)), replace=False)
            reader.append({"kind": "lookup", "sql":
                           f"SELECT doc_id, text, lang, source, n_chars FROM {cat} "
                           f"WHERE doc_id IN ({', '.join(str(int(k)) for k in keys)})"})
        else:
            terms = " ".join(zipf_terms(rng, int(rng.integers(1, 4))))
            reader.append({"kind": "search", "sql":
                           f"SELECT doc_id, matched_terms, score FROM "
                           f"graft_search_text('{index}', '{terms}', 10)"})
    checks = [" ".join(zipf_terms(rng, int(rng.integers(1, 4)))) for _ in range(20)]
    return initial, writer, reader, checks


def replay(initial, writer, done):
    """The key -> row model after the writer ops that committed (`done`
    holds their indexes), and the user bytes each of them submitted: the
    rows it writes, or the keys it deletes."""
    model = {r["doc_id"]: dict(r) for r in initial}
    submitted = {}
    for i, op in enumerate(writer):
        if i not in done:
            continue
        if op["kind"] in ("insert", "merge"):
            submitted[i] = sum(row_bytes(r) for r in op["rows"])
            model.update({r["doc_id"]: dict(r) for r in op["rows"]})
        elif op["kind"] == "update":
            hit = [k for k in range(op["lo"], op["hi"] + 1) if k in model]
            for k in hit:
                model[k]["source"] = op["value"]
            submitted[i] = sum(row_bytes(model[k]) for k in hit)
        elif op["kind"] == "delete":
            submitted[i] = 8 * len(op["keys"])
            for k in op["keys"]:
                model.pop(k, None)
    return model, submitted

"""Seeded input generator for the benchmark workloads.

Every table is written with pyarrow in the schema the program's
`Tables` loaders read (one directory per table, `<name>.parquet/`, one
or more part files). Base values come from a fixed base seed so that
every workload seed measures the same amount of work; the workload
seed decides what the workload table says it decides:

- telemetry: the row order and the file split of every table;
- ingest: the corpus's planted twins, and every delta batch (which
  corpus docs are copied, revised, paraphrased, leaked or stubbed; the
  novel text and the fresh vectors).

The same seed gives byte-identical files; `tree_digest` hashes a tree.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
DIM = 64
DUP_OFFSET = 10_000_000
DUP_RATE = 0.05
US_PER_DAY = 86_400_000_000
# batch doc ids live far above every corpus id (corpus < DUP_OFFSET + n_docs)
BATCH_ID_BASE = 1_000_000_000
BATCH_ID_SPAN = 100_000


def _write(table: pa.Table, path: str, splits=(0,)) -> None:
    """Write `table` as a directory of part files cut at `splits`."""
    os.makedirs(path, exist_ok=True)
    bounds = list(splits) + [table.num_rows]
    for i in range(len(bounds) - 1):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")


def _ts(days_from_epoch_us: np.ndarray) -> pa.Array:
    return pa.array(days_from_epoch_us.astype("int64"), type=pa.timestamp("us"))


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype("int64"))


# ---------------------------------------------------------------- telemetry

def star_tables(sf: float) -> dict:
    """The sf-scaled star schema + events table (fixed base values)."""
    r = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(segs[r.integers(0, 5, n_cust)])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = np.array(["large", "hot", "blue", "cold", "red", "small", "new", "old"])
    noun = np.array(["ring", "bolt", "plate", "gear", "rod", "anvil", "widget", "nut"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                                       noun[r.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", r.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(types[r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))})
    d0, d1 = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[r.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(d0 + r.integers(0, (d1 - d0) // US_PER_DAY + 1, n_ord) * US_PER_DAY),
        "o_orderpriority": pa.array(prio[r.integers(0, 5, n_ord)])})
    s0, s1 = _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line).astype("int64")),
        "l_partkey": pa.array(r.integers(0, n_part, n_line).astype("int64")),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line).astype("int64")),
        "l_linenumber": pa.array(r.integers(1, 8, n_line).astype("int32")),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype("float64")),
        "l_extendedprice": pa.array(np.round(r.uniform(900.0, 105000.0, n_line), 2)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[r.integers(0, 2, n_line)]),
        "l_shipdate": _ts(s0 + r.integers(0, (s1 - s0) // US_PER_DAY + 1, n_line) * US_PER_DAY)})
    e0 = _epoch_us(2024, 1, 1)
    etypes = np.array(["signup", "click", "error", "view", "purchase"])
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": _ts(e0 + np.sort(r.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": pa.array(r.integers(0, 1500, n_ev).astype("int64")),
        "event_type": pa.array(etypes[r.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(r.exponential(50.0, n_ev), 2)),
        "props": pa.array(np.char.add(np.char.add('{"k": ', r.integers(0, 100, n_ev).astype(str)), "}"))})
    return t


def telemetry(out: str, seed: int, sf: float) -> dict:
    """Star + events tables; the seed permutes rows and cuts files."""
    r = np.random.default_rng(seed)
    info = {}
    for name, tbl in star_tables(sf).items():
        perm = r.permutation(tbl.num_rows)
        n_files = int(r.integers(1, 5)) if tbl.num_rows >= 1000 else 1
        cuts = sorted(r.choice(np.arange(1, tbl.num_rows), n_files - 1, replace=False)) \
            if n_files > 1 else []
        _write(tbl.take(pa.array(perm)), os.path.join(out, f"{name}.parquet"), [0] + list(cuts))
        info[name] = {"rows": tbl.num_rows, "files": n_files}
    return info


# ---------------------------------------------------------------- corpora

def base_docs(n_docs: int):
    """Raw corpus: ids, token lists, lang, source (fixed base values)."""
    r = np.random.default_rng(BASE_SEED + 1)
    lens = r.integers(10, 101, n_docs)
    toks = r.integers(0, len(VOCAB), int(lens.sum()))
    offs = np.concatenate([[0], np.cumsum(lens)])
    words = [[VOCAB[j] for j in toks[offs[i]:offs[i + 1]]] for i in range(n_docs)]
    langs = LANGS[r.choice(len(LANGS), n_docs, p=LANG_P)]
    return words, langs


def base_embeddings(n_vec: int):
    r = np.random.default_rng(BASE_SEED + 2)
    v = r.standard_normal((n_vec, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype("float32"), r.integers(0, 10, n_vec).astype("int32")


def salted(words, doc_id: int) -> str:
    """Every token salted with its doc id: distinct docs share no vocabulary."""
    return " ".join(f"{w}#{doc_id}" for w in words)


def corpus(out: str, seed: int, n_docs: int, n_vec: int) -> dict:
    """The salted corpus (documents + embeddings) with planted twins: a
    seeded ~5% of docs get a twin at id + DUP_OFFSET, the salted text
    plus one extra token. Vector i belongs to doc i (shared id space)."""
    r = np.random.default_rng(seed)
    words, langs = base_docs(n_docs)
    vecs, labels = base_embeddings(n_vec)
    dup = r.random(n_docs) < DUP_RATE
    ids, texts, lg, src = [], [], [], []
    for i in range(n_docs):
        t = salted(words[i], i)
        ids.append(i); texts.append(t); lg.append(langs[i]); src.append(f"src{i % 20}")
        if dup[i]:
            ids.append(i + DUP_OFFSET); texts.append(f"{t} xdup#{i}")
            lg.append(langs[i]); src.append(f"src{i % 20}")
    docs = pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lg),
        "source": pa.array(src),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64())})
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype="int64")),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1), type=pa.float32()), DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(labels)})
    _write(docs, os.path.join(out, "documents.parquet"))
    _write(emb, os.path.join(out, "embeddings.parquet"))
    return {"docs": docs.num_rows, "vectors": emb.num_rows, "twins": int(dup.sum())}


# ---------------------------------------------------------------- ingest

# per-batch verdict mix (counts per batch); `carry` copies a doc an
# earlier batch admitted, so the loop's own admissions are probed too
MIX = {"copy": 3, "revision": 3, "paraphrase": 3, "leak": 3, "stub": 3,
       "twin": 2, "novel": 22, "carry": 1}
EVAL_MOD = 7


def ingest(out: str, seed: int, n_docs: int, n_vec: int, n_batches: int) -> dict:
    """m=1 corpus plus `n_batches` seeded delta batches.

    Each batch is `batches/bNNNN/{docs,emb}.parquet` with (doc_id, text)
    and (vec_id, v) rows, and `expected.json` lists every batch doc's
    planted (verdict, dup_of). Sources are drawn without replacement
    across the whole run, so no two batch docs derive from one corpus
    doc and every expectation is independent of batch order.
    """
    info = corpus(out, seed, n_docs, n_vec)
    r = np.random.default_rng(seed + 7919)
    words, _ = base_docs(n_docs)
    vecs, _ = base_embeddings(n_vec)
    corpus_text = {i: salted(words[i], i) for i in range(n_docs)}
    distinct = np.array([len(set(w)) for w in words])
    eval_ids = [i for i in range(n_docs) if i % EVAL_MOD == 0 and len(words[i]) >= 8]
    pool_vec = list(r.permutation(n_vec))                        # paraphrase sources
    pool_doc = [int(i) for i in r.permutation(n_docs) if i >= n_vec]  # copy / revision
    pool_eval = list(r.permutation(eval_ids))
    expected, admitted = {}, []
    bdir = os.path.join(out, "batches")
    for b in range(n_batches):
        base = BATCH_ID_BASE + b * BATCH_ID_SPAN
        nxt = iter(range(base, base + BATCH_ID_SPAN))
        rows, evs, exp = [], [], {}
        n_before = len(admitted)

        def fresh_vec():
            v = r.standard_normal(DIM)
            return list(v / np.linalg.norm(v))

        def novel_words(d, n):
            return " ".join(f"n{int(x)}#{d}" for x in r.integers(0, 1000, n))

        for _ in range(MIX["copy"]):
            d, s = next(nxt), pool_doc.pop()
            rows.append((d, corpus_text[s])); evs.append((d, fresh_vec()))
            exp[d] = ("exact_dup", s)
        for _ in range(MIX["revision"]):
            # same token SET as the source (one token repeated): Jaccard 1,
            # so the near tier fires with certainty, never by LSH luck
            s = pool_doc.pop()
            while distinct[s] < 5:
                s = pool_doc.pop()
            d = next(nxt)
            rows.append((d, corpus_text[s] + f" {words[s][0]}#{s}")); evs.append((d, fresh_vec()))
            exp[d] = ("near_dup", s)
        for _ in range(MIX["paraphrase"]):
            d, s = next(nxt), int(pool_vec.pop())
            rows.append((d, novel_words(d, 12))); evs.append((d, [float(x) for x in vecs[s]]))
            exp[d] = ("sem_dup", s)
        for _ in range(MIX["leak"]):
            d, s = next(nxt), int(pool_eval.pop())
            rows.append((d, " ".join(corpus_text[s].split(" ")[:8]) + " " + novel_words(d, 8)))
            evs.append((d, fresh_vec()))
            exp[d] = ("contaminated", -1)
        for _ in range(MIX["stub"]):
            d = next(nxt)
            rows.append((d, novel_words(d, 3))); evs.append((d, fresh_vec()))
            exp[d] = ("low_quality", -1)
        for _ in range(MIX["twin"]):
            d1, d2 = next(nxt), next(nxt)
            t = novel_words(d1, 10)
            rows += [(d1, t), (d2, t)]
            evs += [(d1, fresh_vec()), (d2, fresh_vec())]
            exp[d1] = ("train", -1)
            exp[d2] = ("exact_dup", d1)
            admitted.append((d1, t))
        for _ in range(MIX["novel"]):
            d = next(nxt)
            t = novel_words(d, int(r.integers(6, 40)))
            rows.append((d, t)); evs.append((d, fresh_vec()))
            exp[d] = ("train", -1)
            admitted.append((d, t))
        if b > 0:
            for _ in range(MIX["carry"]):
                s, t = admitted[int(r.integers(0, n_before))]
                d = next(nxt)
                rows.append((d, t)); evs.append((d, fresh_vec()))
                exp[d] = ("exact_dup", s)
        order = r.permutation(len(rows))
        rows = [rows[i] for i in order]
        evs = [evs[i] for i in order]
        p = os.path.join(bdir, f"b{b:04d}")
        _write(pa.table({"doc_id": pa.array([x[0] for x in rows], type=pa.int64()),
                         "text": pa.array([x[1] for x in rows])}), os.path.join(p, "docs.parquet"))
        _write(pa.table({"vec_id": pa.array([x[0] for x in evs], type=pa.int64()),
                         "v": pa.array([x[1] for x in evs], type=pa.list_(pa.float64()))}),
               os.path.join(p, "emb.parquet"))
        expected[f"b{b:04d}"] = {str(k): list(v) for k, v in sorted(exp.items())}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)
    info.update({"batches": n_batches, "batch_docs": len(rows), "eval_mod": EVAL_MOD,
                 "batch_id_base": BATCH_ID_BASE})
    return info


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()

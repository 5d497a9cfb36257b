"""Output checks for the benchmark, computed apart from Spark.

Keys with a `SparkEntry.oracleSql` are compared with DuckDB running that SQL
over the same parquet inputs, value for value after sorting, the way the
repo's `tools/oracle_check.py` compares them, except that signed zero is
canonicalized (`-0.0` and `0.0` are the same number). Keys without an oracle
are checked against stated properties (see `PROPERTY_CHECKS`).

Everything that depends only on the inputs (oracle answers, exact top-k,
exhaustive duplicate components) is computed once per (input dir, SQL or
check name) and kept under the cache dir, so a run only reads its own
results.
"""
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# ANN recall floors against the exact top-k (README "ANN recall floors").
RECALL_FLOOR = {"ann_ivf": 0.3, "ann_pq": 0.5}
ANN_K = 5
MINHASH_THRESHOLD = 0.5   # MinHashLsh.dedupMinhashLsh(threshold = 0.5)
SIMHASH_HAMMING_MAX = 3   # SimHashDedup.HammingMax


def connect(data):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def canonical(df):
    """Order-free fingerprint of a result: sorted column names, row count,
    and the sum of per-row hashes of the values' string forms (the strings
    `tools/oracle_check.py` compares), so equal multisets of rows agree."""
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        if df[c].dtype.kind == "f":
            df[c] = df[c] + 0.0  # -0.0 + 0.0 == +0.0
    rows = pd.util.hash_pandas_object(df.astype(str), index=False).to_numpy()
    return {"cols": cols, "rows": len(df), "digest": int(rows.sum(dtype=np.uint64))}


class Checker:
    def __init__(self, data, cache):
        self.data = data
        self.cache = cache
        self.con = connect(data)
        os.makedirs(cache, exist_ok=True)

    def cached(self, name, compute):
        """compute() → JSON-able value, computed once per (data, name)."""
        tag = hashlib.sha256(f"{os.path.basename(self.data)}\0{name}".encode()).hexdigest()[:24]
        path = os.path.join(self.cache, tag + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = compute()
        with open(path + ".tmp", "w") as f:
            json.dump(value, f)
        os.replace(path + ".tmp", path)
        return value

    def oracle(self, sql):
        return self.cached("oracle\0" + sql, lambda: canonical(self.con.sql(sql).df()))

    def read(self, out_dir):
        return self.con.sql(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").df()

    def check(self, key, sql, out_dir):
        """None if the output in out_dir is right, else why it is not."""
        if not os.path.isdir(out_dir):
            return "no output written"
        got = self.read(out_dir)
        if sql is not None:
            want, have = self.oracle(sql), canonical(got)
            if have["cols"] != want["cols"]:
                return f"columns {have['cols']} vs oracle {want['cols']}"
            if have["rows"] != want["rows"]:
                return f"{have['rows']} rows vs oracle {want['rows']}"
            if have["digest"] != want["digest"]:
                return "values differ from the oracle"
            return None
        if key not in PROPERTY_CHECKS:
            return "no oracle and no property check"
        return PROPERTY_CHECKS[key](self, key, got)


# ---------------------------------------------------------------- ANN

def quantized_cosine_sql(pairs):
    """Cosine of the 1/1000-quantized vectors, as BruteForceKnn scores."""
    return f"""
    WITH q AS (
      SELECT vec_id,
        list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) qe
      FROM embeddings)
    SELECT p.query_id, p.neighbor_id,
      list_inner_product(c.qe, qq.qe)
        / (sqrt(list_inner_product(c.qe, c.qe)) * sqrt(list_inner_product(qq.qe, qq.qe))) AS cos
    FROM {pairs} p JOIN q c ON c.vec_id = p.neighbor_id JOIN q qq ON qq.vec_id = p.query_id"""


def exact_topk(chk):
    def compute():
        all_pairs = ("(SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id "
                     "FROM embeddings a, embeddings b "
                     "WHERE a.vec_id % 100 = 0 AND a.vec_id <> b.vec_id)")
        rows = chk.con.sql(f"""
          SELECT query_id, neighbor_id FROM ({quantized_cosine_sql(all_pairs)})
          QUALIFY row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) <= {ANN_K}""").fetchall()
        return sorted([int(a), int(b)] for a, b in rows)
    return chk.cached("exact_topk", compute)


def check_ann(chk, key, got):
    queries = {r[0] for r in chk.con.sql(
        "SELECT vec_id FROM embeddings WHERE vec_id % 100 = 0").fetchall()}
    if set(got.columns) != {"query_id", "neighbor_id", "cos_sim", "rank"}:
        return f"columns {sorted(got.columns)}"
    if set(got["query_id"]) != queries:
        return "query set differs from vec_id % 100 = 0"
    for q, g in got.groupby("query_id"):
        if sorted(g["rank"]) != list(range(1, ANN_K + 1)):
            return f"query {q}: ranks {sorted(g['rank'])}"
        if g["neighbor_id"].nunique() != ANN_K or (g["neighbor_id"] == q).any():
            return f"query {q}: neighbors not {ANN_K} distinct non-self ids"
        if not g.sort_values("rank")["cos_sim"].is_monotonic_decreasing:
            return f"query {q}: cos_sim not descending in rank"
    chk.con.register("got_pairs", got)
    cos = chk.con.sql("SELECT g.cos_sim, r.cos FROM got_pairs g JOIN ("
                      + quantized_cosine_sql("got_pairs")
                      + ") r USING (query_id, neighbor_id)").fetchnumpy()
    chk.con.unregister("got_pairs")
    if len(cos["cos"]) != len(got) or not np.allclose(cos["cos_sim"], cos["cos"],
                                                       rtol=0, atol=1e-12):
        return "cos_sim differs from the cosine recomputed from embeddings"
    exact = {tuple(p) for p in exact_topk(chk)}
    hit = sum((int(a), int(b)) in exact for a, b in zip(got["query_id"], got["neighbor_id"]))
    recall = hit / (len(queries) * ANN_K)
    if recall < RECALL_FLOOR[key]:
        return f"recall {recall:.3f} below floor {RECALL_FLOOR[key]}"
    return None


# ---------------------------------------------------------------- dedup

def components(ids, pairs):
    """doc id → smallest id of its connected component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def minhash_truth(chk):
    """Components over every pair whose word-trigram Jaccard ≥ threshold."""
    def compute():
        pairs = chk.con.sql(f"""
          WITH sh AS (
            SELECT doc_id, list_distinct(list_transform(generate_series(1, len(ws) - 2),
                     i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) sg
            FROM (SELECT doc_id, string_split_regex(text, '\\s+') ws FROM documents)
            WHERE len(ws) >= 3),
          g AS (SELECT doc_id, unnest(sg) AS g, len(sg) AS n FROM sh),
          c AS (SELECT a.doc_id a_id, b.doc_id b_id, a.n na, b.n nb, count(*) k
                FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY ALL)
          SELECT a_id, b_id FROM c
          WHERE CAST(k AS DOUBLE) / (na + nb - k) >= {MINHASH_THRESHOLD}""").fetchall()
        return [[int(a), int(b)] for a, b in pairs]
    return chk.cached("minhash_truth", compute)


def xxh64(data, seed):
    """Reference XXH64 of bytes, as Spark's xxhash64 of a string (seed 42)."""
    p1, p2, p3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
    p4, p5, m = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5, (1 << 64) - 1

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & m

    def rnd(acc, lane):
        return (rotl((acc + lane * p2) & m, 31) * p1) & m

    n, i = len(data), 0
    if n >= 32:
        v = [(seed + p1 + p2) & m, (seed + p2) & m, seed & m, (seed - p1) & m]
        while i + 32 <= n:
            for j in range(4):
                v[j] = rnd(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)) & m
        for x in v:
            h = ((h ^ rnd(0, x)) * p1 + p4) & m
    else:
        h = (seed + p5) & m
    h = (h + n) & m
    while i + 8 <= n:
        h = (rotl(h ^ rnd(0, int.from_bytes(data[i:i + 8], "little")), 27) * p1 + p4) & m
        i += 8
    if i + 4 <= n:
        h = (rotl(h ^ (int.from_bytes(data[i:i + 4], "little") * p1) & m, 23) * p2 + p3) & m
        i += 4
    while i < n:
        h = (rotl(h ^ (data[i] * p5) & m, 11) * p1) & m
        i += 1
    h = ((h ^ (h >> 33)) * p2) & m
    h = ((h ^ (h >> 29)) * p3) & m
    return h ^ (h >> 32)


def simhash_truth(chk):
    """SimHash fingerprints (per-token xxhash64 votes) and every pair of
    documents within the Hamming bound, computed in numpy."""
    def compute():
        docs = chk.con.sql("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
        ids = np.array([d for d, _ in docs], dtype=np.int64)
        vocab, counts = {}, []
        for _, text in docs:
            row = {}
            for w in text.split():
                c = vocab.setdefault(w, len(vocab))
                row[c] = row.get(c, 0) + 1
            counts.append(row)
        m = np.zeros((len(docs), len(vocab)), dtype=np.int64)
        for r, row in enumerate(counts):
            for c, k in row.items():
                m[r, c] = k
        hashes = [xxh64(w.encode(), 42) for w in vocab]
        sign = np.array([[1 if (h >> i) & 1 else -1 for i in range(64)] for h in hashes],
                        dtype=np.int64)
        bits = (m @ sign) >= 0
        fp = (bits.astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(axis=1,
                                                                          dtype=np.uint64)
        pairs = []
        for i in range(len(fp) - 1):
            x = fp[i] ^ fp[i + 1:]
            ham = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
            for j in np.nonzero(ham <= SIMHASH_HAMMING_MAX)[0]:
                pairs.append([int(ids[i]), int(ids[i + 1 + j])])
        return {"fp": {str(int(i)): int(f.astype(np.int64)) for i, f in zip(ids, fp)},
                "pairs": pairs}
    return chk.cached("simhash_truth", compute)


def check_components(chk, got, pairs):
    ids = [r[0] for r in chk.con.sql("SELECT doc_id FROM documents").fetchall()]
    if sorted(got["doc_id"]) != sorted(ids):
        return "doc_id set differs from documents"
    if ((got["rep_id"] != got["doc_id"]).astype(int) != got["is_dup"]).any():
        return "is_dup disagrees with rep_id != doc_id"
    truth = components(ids, [tuple(p) for p in pairs])
    flagged = got[got["is_dup"] == 1]
    for d, r in zip(flagged["doc_id"], flagged["rep_id"]):
        if truth[d] == d:
            return f"doc {d} flagged but the exhaustive oracle does not flag it"
        if r >= d or truth[r] != truth[d]:
            return f"doc {d}: rep {r} is not a smaller doc of its component"
    return None


def check_minhash(chk, key, got):
    return check_components(chk, got, minhash_truth(chk))


def check_simhash(chk, key, got):
    truth = simhash_truth(chk)
    fp = {int(d): int(s) for d, s in zip(got["doc_id"], got["simhash"])}
    if fp != {int(d): s for d, s in truth["fp"].items()}:
        return "simhash fingerprints differ from the recomputed ones"
    return check_components(chk, got[["doc_id", "rep_id", "is_dup"]], truth["pairs"])


PROPERTY_CHECKS = {
    "ann_ivf": check_ann,
    "ann_pq": check_ann,
    "dedup_minhash_lsh": check_minhash,
    "dedup_simhash": check_simhash,
}

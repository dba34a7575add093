"""Output checks for the benchmark's workloads.

Every answer an op returns is recomputed here from the generated inputs
(raw parquet and CSV files the run wrote before building the engine's own
inputs), with DuckDB and plain Python, never through the engine's
GraphAr connector. A wrong answer or an op that raised counts as failed.
"""

import glob
import math
import os

import duckdb
import numpy as np


def check(workload, res):
    checker = {"graph_lookup": Lookup, "llm_pipeline": Pipeline,
               "delta_mutate": Delta}[workload](res)
    failures = []
    for op in res["ops"]:
        where = "%s(%s) pass %s" % (op["name"], op["key"], op["pass"])
        if op["error"] is not None:
            failures.append("%s raised %s" % (where, op["error"][:300]))
            continue
        try:
            problem = checker.verify(op["name"], op["key"], op["answer"])
        except Exception as e:  # a check that cannot run is a failure too
            problem = "check error %r" % e
        if problem:
            failures.append("%s: %s" % (where, problem))
    return {"checked": len(res["ops"]), "failures": failures}


def expect(got, want):
    return None if got == want else "got %r, want %r" % (got[:200], str(want)[:200])


def parquet(path):
    return "read_parquet('%s')" % os.path.join(path, "*.parquet")


class Csr:
    """Directed adjacency over vertex ids 0..n-1 (multi-edges kept)."""

    def __init__(self, src, dst, n):
        order = np.argsort(src, kind="stable")
        self.dst = dst[order]
        self.off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(np.bincount(src, minlength=n), out=self.off[1:])

    def out(self, v):
        return self.dst[self.off[v]:self.off[v + 1]]

    def degree(self, v):
        return int(self.off[v + 1] - self.off[v])

    def bfs_length(self, s, t, max_depth):
        if s == t:
            return 0
        seen = {s}
        frontier = [s]
        for depth in range(1, max_depth + 1):
            nxt = []
            for u in frontier:
                for w in self.out(u).tolist():
                    if w == t:
                        return depth
                    if w not in seen:
                        seen.add(w)
                        nxt.append(w)
            if not nxt:
                return -1
            frontier = nxt
        return -1


class Lookup:
    def __init__(self, res):
        raw = res["raw"]
        con = duckdb.connect()
        e = con.execute("SELECT src, dst FROM %s" % parquet(raw + "/edges")).fetchnumpy()
        v = con.execute("SELECT p_partkey - 1 AS vid, p_name, p_size FROM %s ORDER BY vid"
                        % parquet(raw + "/vertices")).fetchall()
        self.names = {vid: name for vid, name, _ in v}
        self.sizes = {vid: size for vid, _, size in v}
        self.n_vertices = len(v)
        self.n_edges = len(e["src"])
        self.csr = Csr(e["src"].astype(np.int64), e["dst"].astype(np.int64), self.n_vertices)

    def two_hop(self, v):
        h1 = self.csr.out(v)
        return len(h1) + int(sum(self.csr.degree(int(m)) for m in h1))

    def one_more_hop(self, v):
        h1 = self.csr.out(v)
        f = set(h1.tolist())
        second = sum(int(np.isin(self.csr.out(m), list(f)).sum()) for m in f)
        return len(h1) + second

    def verify(self, name, key, ans):
        c = self.csr
        if name == "meta_degree":
            return expect(ans, "%d|%d" % (c.degree(int(key)), self.n_vertices))
        if name == "one_hop":
            return expect(ans, str(c.degree(int(key))))
        if name == "vertex_read":
            v = int(key)
            return expect(ans, "%s|%d" % (self.names[v], self.sizes[v]))
        if name == "name_lookup":
            ids = sorted(v for v, n in self.names.items() if n == key)
            return expect(ans, ",".join(map(str, ids)))
        if name == "count_star":
            return expect(ans, str(self.n_edges))
        if name == "limit3":
            rows = [r.split("|", 1) for r in ans.split(";")]
            ok = len(rows) == 3 and all(self.names.get(int(v)) == n for v, n in rows)
            return None if ok else "not 3 valid vertex rows: %r" % ans[:200]
        if name == "two_hop":
            return expect(ans, str(self.two_hop(int(key))))
        if name == "one_more_hop":
            return expect(ans, str(self.one_more_hop(int(key))))
        if name == "bfs_length":
            s, t = map(int, key.split("|"))
            return expect(ans, str(c.bfs_length(s, t, 8)))
        return "no check for op %s" % name


STOPWORDS = {"the", "and", "of", "to", "in", "is", "you", "that", "it", "a"}
HASH_MOD = 1000000007


def char_hash(s, seed):
    """The engine's seeded polynomial hash of a string's code points."""
    acc = seed
    for ch in s:
        acc = (acc * 31 + ord(ch)) % HASH_MOD
    return acc


def simhash32(tokens):
    """32-bit SimHash over the distinct tokens: bit b is set when more
    token hashes have bit b set than clear."""
    hashes = [char_hash(t, 7) for t in set(tokens)]
    return sum(1 << b for b in range(32)
               if sum(1 if (h >> b) & 1 else -1 for h in hashes) > 0)


def cosine_rows(a, b):
    """Cosine of each row of `a` with each row of `b`, summed in the same
    order and precision as the engine's compiled cosine (a sequential
    double loop, then dxy / sqrt(dxx) / sqrt(dyy)), so results match
    bit for bit."""
    dxy = np.cumsum(a[:, None, :] * b[None, :, :], axis=2)[:, :, -1]
    dxx = np.cumsum(a * a, axis=1)[:, -1]
    dyy = np.cumsum(b * b, axis=1)[:, -1]
    return dxy / np.sqrt(dxx)[:, None] / np.sqrt(dyy)[None, :]


def expect_sums(got, ints, floats):
    """`got` is `|`-joined integers then floats; the integers must match
    exactly, the float sums to a relative 1e-9 (summation order differs)."""
    parts = got.split("|")
    if len(parts) != len(ints) + len(floats):
        return "got %r, want %d fields" % (got[:200], len(ints) + len(floats))
    ok = [int(p) for p in parts[:len(ints)]] == list(ints) and all(
        math.isclose(float(p), f, rel_tol=1e-9, abs_tol=1e-9)
        for p, f in zip(parts[len(ints):], floats))
    return None if ok else "got %r, want %r" % (got[:200], list(ints) + list(floats))


class Pipeline:
    def __init__(self, res):
        d = res["inputs"]
        con = duckdb.connect()
        docs = con.execute("SELECT doc_id, text, source FROM read_parquet('%s') ORDER BY doc_id"
                           % os.path.join(d, "documents.parquet", "*.parquet")).fetchall()
        self.ids = [r[0] for r in docs]
        self.tokens = {r[0]: r[1].strip().lower().split() for r in docs}
        self.source = {r[0]: r[2] for r in docs}
        self.texts = {r[0]: r[1] for r in docs}
        emb = con.execute("SELECT vec_id, embedding FROM read_parquet('%s') ORDER BY vec_id"
                          % os.path.join(d, "embeddings.parquet", "*.parquet")).fetchall()
        self.vec_ids = [r[0] for r in emb]
        self.emb = np.array([r[1] for r in emb], dtype=np.float32).astype(np.float64)
        # doc_id % 100 == 1 near-duplicates and doc_id % 100 == 7 exact
        # duplicates of their predecessors are planted; a corpus without
        # them would let a broken deduplication pass
        if not any(self.texts.get(i - 1) == self.texts[i] for i in self.ids):
            raise ValueError("the corpus has no planted exact duplicate")
        self.planted = {(i - 1, i) for i in self.ids if i % 100 == 1}
        self.cache = {}

    def shingles(self, doc, n):
        t = self.tokens[doc]
        return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}

    def jaccard(self, a, b):
        x, y = self.shingles(a, 3), self.shingles(b, 3)
        return len(x & y) / len(x | y)

    def decontaminate(self):
        bench = set()
        for d in self.ids:
            if d % 50 == 0:
                bench |= self.shingles(d, 4)
        flagged = [len(self.shingles(d, 4) & bench) for d in self.ids if d % 50 != 0]
        flagged = [n for n in flagged if n > 0]
        return "%d|%d" % (len(flagged), sum(flagged))

    def token_pack(self):
        n_tok = 0
        max_bin = 0
        cum = {}
        for d in self.ids:
            n = len(self.tokens[d])
            s = self.source[d]
            start = cum.get(s, 0)
            cum[s] = start + n
            max_bin = max(max_bin, start // 512)
            n_tok += n
        return "%d|%d|%d" % (len(self.ids), n_tok, max_bin)

    def cos_all(self, q):
        e = self.emb
        norms = np.linalg.norm(e, axis=1)
        return (e @ e[q]) / (norms * norms[q])

    def sim_topk(self):
        out = []
        for q in range(8):
            c = self.cos_all(q)
            cand = sorted((-c[i], self.vec_ids[i]) for i in range(len(c)) if self.vec_ids[i] != q)
            out += [(q, n) for _, n in cand[:5]]
        return ",".join("%d-%d" % p for p in sorted(out))

    def dedup_exact(self):
        keep = {}
        for d in self.ids:
            keep.setdefault(" ".join(self.tokens[d]), []).append(d)
        return "%d|%d|%d" % (len(keep), sum(min(g) for g in keep.values()),
                             max(len(g) for g in keep.values()))

    def simhash(self):
        sig = {d: simhash32(self.tokens[d]) for d in self.ids}
        return "%d|%d|%d" % (len(sig), sum(sig.values()),
                             sum((d + 1) * s for d, s in sig.items()))

    def quality(self):
        n_chars = n_tokens = 0
        stop = avg_len = 0.0
        for d in self.ids:
            t = self.tokens[d]
            n_chars += len(self.texts[d])
            n_tokens += len(t)
            stop += sum(w in STOPWORDS for w in t) * 1.0 / len(t)
            avg_len += sum(len(w) for w in t) * 1.0 / len(t)
        # the corpus has no punctuation, so every punct_ratio is 0
        return [len(self.ids), n_chars, n_tokens], [0.0, stop, avg_len]

    def semdedup(self):
        """Similarity.semDedup: centroids are the vectors with
        vec_id % 40 == 0; each vector joins its most similar centroid
        (ties to the lower id); within a cluster, a vector is dropped when
        a lower id is at cosine 0.4 or more."""
        ids = np.array(self.vec_ids)
        cent = np.flatnonzero(ids % 40 == 0)
        c = cosine_rows(self.emb, self.emb[cent])
        best = c.max(axis=1)
        cluster = np.array([ids[cent[np.flatnonzero(c[i] == best[i])[0]]]
                            for i in range(len(ids))])
        kept = []
        for k in np.unique(cluster):
            m = np.flatnonzero(cluster == k)
            pair = cosine_rows(self.emb[m], self.emb[m])
            for j in range(len(m)):
                if not (pair[:j, j] >= 0.4).any():
                    kept.append(m[j])
        return "%d|%d|%d" % (len(kept), int(ids[kept].sum()), int(cluster[kept].sum()))

    def memo(self, k, f):
        if k not in self.cache:
            self.cache[k] = f()
        return self.cache[k]

    def verify(self, name, key, ans):
        n = len(self.ids)
        if name == "dedup_exact":
            return expect(ans, self.memo("dedup", self.dedup_exact))
        if name == "minhash_lsh":
            pairs = [tuple(map(int, p.split("-"))) for p in ans.split(",") if p]
            bad = [p for p in pairs if self.jaccard(*p) < 0.25]
            if bad:
                return "pairs below the Jaccard threshold: %r" % bad[:5]
            found = len(self.planted & set(pairs))
            if found < 0.9 * len(self.planted):
                return "recall of planted near-duplicates %d/%d" % (found, len(self.planted))
            return None
        if name == "simhash":
            return expect(ans, self.memo("simhash", self.simhash))
        if name == "quality":
            return expect_sums(ans, *self.memo("quality", self.quality))
        if name == "decontaminate":
            return expect(ans, self.memo("decon", self.decontaminate))
        if name == "token_pack":
            return expect(ans, self.memo("pack", self.token_pack))
        if name == "sim_topk":
            return expect(ans, self.memo("topk", self.sim_topk))
        if name == "semdedup":
            return expect(ans, self.memo("semdedup", self.semdedup))
        if name == "minhash_sig":
            return expect(ans, str(8 * n))
        if name == "cosine":
            want = float(self.memo("cos", lambda: self.cos_all(0).sum()))
            return None if math.isclose(float(ans), want, abs_tol=1e-5) else \
                "got %s, want %.6f" % (ans, want)
        return "no check for op %s" % name


class Delta:
    def __init__(self, res):
        raw = res["raw"]
        con = duckdb.connect()
        e = con.execute("SELECT src FROM %s" % parquet(raw + "/edges")).fetchnumpy()
        self.base_deg = np.bincount(e["src"].astype(np.int64), minlength=4096)
        self.n_base = len(e["src"])
        self.deltas = {}
        for f in glob.glob(os.path.join(raw, "delta_*.csv")):
            k = int(os.path.basename(f)[6:-4])
            self.deltas[k] = con.execute(
                "SELECT src FROM read_csv('%s', header=true)" % f).fetchnumpy()["src"]
        # compactions are checked in the order they ran, and each must
        # commit a newer version than the one before
        self.version = 0

    def verify(self, name, key, ans):
        if name == "stage":
            # stage k commits delta sequence number k
            return expect(ans, key) if int(key) in self.deltas else "no generated delta"
        if name == "compact":
            last, self.version = self.version, int(ans)
            return None if self.version > last else "version %s after %d" % (ans, last)
        staged = int(key.split("|")[0])
        if any(k not in self.deltas for k in range(staged)):
            return "missing generated delta"
        if name in ("folded_count", "compacted_count"):
            return expect(ans, str(self.n_base + sum(len(self.deltas[k]) for k in range(staged))))
        if name == "folded_one_hop":
            v = int(key.split("|")[1])
            want = int(self.base_deg[v]) + sum(int((self.deltas[k] == v).sum())
                                               for k in range(staged))
            return expect(ans, str(want))
        return "no check for op %s" % name

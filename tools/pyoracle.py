#!/usr/bin/env python3
"""Dev-only NON-SQL oracles for queries whose DuckDB SQL is
intractable (or too slow) at the bigger dev SFs: the transitive-
closure/char-fold four (d_components, d_neardup, d_embclusters,
c_corpus), plus independent re-implementations used for large-SF
pins (t_chrf, the IVF family, g16_ktruss, and — round 12 — the
exact-integer-lattice g_pagerank / g10_ppr, where the 5-iteration
unrolled CTE chain is DuckDB-tractable at sf0.1 but slow at sf10).

Each function recomputes the query INDEPENDENTLY in Python/numpy —
union-find instead of a recursive CTE, linear numpy char folds
instead of substr-per-char — mirroring the same published algorithm
the Spark side implements (MinHash-LSH banding per Broder; CCNet-ish
quality gate), with the engine-portability rules the repo pins
everywhere: sequential left-fold float accumulation (matching
Vectors.dot / DuckDB list_reduce), Decimal HALF_UP rounding
(matching Spark's BigDecimal round), and exact integer gates.

Used by tools/check_sf1.py; check.py keeps the pure-SQL oracles at
the graded SFs, so at sf0.01/sf0.1 BOTH oracles must agree with
Spark — a three-way pin. Dev tooling only; the shipped library is
pure Scala/Spark.
"""
from decimal import Decimal, ROUND_HALF_UP

import numpy as np
import pandas as pd

P = 1000000007
NUM_HASHES = 12
SEEDS = [(((2 * k + 1) * 104729) % P, (k * 15485863 + 32452843) % P)
         for k in range(NUM_HASHES)]
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
MAX_BUCKET = 1000
MAX_CAND = 64
# 31^j % P for the chunked Horner fold (block size 512)
_POW31 = [1]
for _ in range(512):
    _POW31.append((_POW31[-1] * 31) % P)
_POW31 = np.array(_POW31, dtype=np.int64)


def _norm_az(text):
    """Text.normalizeAz: lower + strip everything outside [a-z ]."""
    import re
    return re.sub(r"[^a-z ]", "", text.lower())


def _gram_hashes(t):
    """Distinct char-3-gram poly-hashes (fold mult 31 mod P) of a
    normalized text, sorted. ((c0*31+c1)%P*31+c2)%P == the plain
    integer c0*961+c1*31+c2 because it never reaches P."""
    if len(t) < 3:
        return np.empty(0, dtype=np.int64)
    a = np.frombuffer(t.encode("ascii"), dtype=np.uint8).astype(np.int64)
    return np.unique(a[:-2] * 961 + a[1:-1] * 31 + a[2:])


def _minhash_sig(grams):
    """12-slot MinHash signature of a non-empty gram-hash set."""
    return [int(np.min((a * grams + b) % P)) for (a, b) in SEEDS]


def _poly_hash(t):
    """Text.polyHash: h = (h*31 + ascii(c)) % P over ALL chars, init 0
    — chunked Horner so it's linear, not substr-per-char."""
    h = 0
    a = np.frombuffer(t.encode("ascii"), dtype=np.uint8).astype(np.int64)
    for i in range(0, len(a), 512):
        blk = a[i:i + 512]
        k = len(blk)
        h = (h * int(_POW31[k]) + int(np.sum(blk * _POW31[:k][::-1]))) % P
    return h


def _round6(x):
    """Spark round(x, 6): HALF_UP on the double's exact expansion."""
    return float(Decimal(x).quantize(Decimal("0.000001"),
                                     rounding=ROUND_HALF_UP))


def _lsh_pairs(doc_grams):
    """MinHash-LSH candidate pairs (2 bands x 6 rows, bucket cap
    1000) then exact hash-gram Jaccard — returns {(a, b): jaccard}
    for verified pairs >= threshold handled by the caller."""
    sigs = {d: _minhash_sig(g) for d, g in doc_grams.items() if len(g) > 0}
    blocks = {}
    for d, m in sigs.items():
        for band in (0, 1):
            bk = "_".join(str(v) for v in m[band * 6:(band + 1) * 6])
            blocks.setdefault((band, bk), []).append(d)
    cands = {}
    for ids in blocks.values():
        if len(ids) > MAX_BUCKET:
            continue
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                k = (ids[i], ids[j])
                cands[k] = cands.get(k, 0) + 1
    # per-doc_a cap: best MAX_CAND candidates (most matched bands
    # first, then smallest doc_b), n_cand = pre-cap count — mirrors
    # Dedup.candidatesFromSig
    by_a = {}
    for (da, db), nb in cands.items():
        by_a.setdefault(da, []).append((-nb, db))
    out = {}
    for da, lst in by_a.items():
        n_cand = len(lst)
        lst.sort()
        for (_, db) in lst[:MAX_CAND]:
            ga, gb = doc_grams[da], doc_grams[db]
            inter = len(np.intersect1d(ga, gb, assume_unique=True))
            uni = len(ga) + len(gb) - inter
            out[(da, db)] = ((inter / uni) if uni > 0 else 0.0, n_cand)
    return out


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        p = self.p
        root = x
        while p.get(root, root) != root:
            root = p[root]
        while p.get(x, x) != x:
            p[x], x = root, p[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # keep the SMALLER id as the root: component = min id
            if ra > rb:
                ra, rb = rb, ra
            self.p[rb] = ra


def _docs(sf_dir):
    import duckdb
    return duckdb.sql(
        f"SELECT doc_id, text, lang FROM '{sf_dir}/documents.parquet'"
    ).df()


def d_neardup(sf_dir):
    df = _docs(sf_dir)
    grams = {int(r.doc_id): _gram_hashes(_norm_az(r.text))
             for r in df.itertuples()}
    pairs = _lsh_pairs(grams)
    rows = [(a, b, _round6(j), nc)
            for (a, b), (j, nc) in sorted(pairs.items()) if j >= 0.6]
    return pd.DataFrame(rows,
                        columns=["doc_a", "doc_b", "jaccard", "n_cand"]) \
        .astype({"doc_a": "int64", "doc_b": "int64", "jaccard": "float64",
                 "n_cand": "int64"})


def _components(ids, edges):
    """(id -> min-id-of-component) for every id, plus sizes."""
    uf = _UF()
    for a, b in edges:
        uf.union(a, b)
    rep = {i: uf.find(i) for i in ids}
    sizes = {}
    for r in rep.values():
        sizes[r] = sizes.get(r, 0) + 1
    return rep, sizes


def d_components(sf_dir):
    df = _docs(sf_dir)
    grams = {int(r.doc_id): _gram_hashes(_norm_az(r.text))
             for r in df.itertuples()}
    edges = [p for p, (j, _) in _lsh_pairs(grams).items() if j >= 0.6]
    ids = [int(d) for d in df.doc_id]
    rep, sizes = _components(ids, edges)
    rows = [(i, rep[i], sizes[rep[i]]) for i in ids]
    return pd.DataFrame(rows,
                        columns=["doc_id", "cluster_rep", "cluster_size"]) \
        .astype("int64")


def c_corpus(sf_dir):
    df = _docs(sf_dir)
    meta = {}
    for r in df.itertuples():
        t = _norm_az(r.text)
        toks = [w for w in t.split(" ") if w]
        n = len(toks)
        st = sum(1 for w in toks if w in STOPWORDS)
        meta[int(r.doc_id)] = (r.text, r.lang, t, len(r.text), len(t), n, st)
    # integer quality gate: len_norm*(2*st+n) >= max(n,50)*len_raw
    gated = [d for d, (_, _, _, lr, ln, n, st) in meta.items()
             if ln * (2 * st + n) >= max(n, 50) * lr]
    # exact dedup: keep min doc_id per identical raw text
    first = {}
    for d in sorted(gated):
        txt = meta[d][0]
        if txt not in first:
            first[txt] = d
    keep1 = sorted(first.values())
    grams = {d: _gram_hashes(meta[d][2]) for d in keep1}
    dropped = {b for (a, b), (j, _) in _lsh_pairs(grams).items() if j >= 0.6}
    rows = []
    for d in keep1:
        if d in dropped:
            continue
        _, lang, t, lr, ln, n, st = meta[d]
        q = min(1.0, n / 50.0) * (1.0 - (lr - ln) / lr) * (0.5 + st / n)
        bucket = _poly_hash(t) % 100
        split = "train" if bucket < 80 else ("val" if bucket < 90 else "test")
        rows.append((d, lang, n, _round6(q), split))
    return pd.DataFrame(rows,
                        columns=["doc_id", "lang", "n_tokens", "quality",
                                 "split"]) \
        .astype({"doc_id": "int64", "n_tokens": "int64",
                 "quality": "float64"})


def _pr_pairs(sf_dir):
    """Distinct (cust, supp+1e9) pairs of the who-bought-from-whom
    bipartite graph — the edge source of g_pagerank / g10_ppr."""
    import duckdb
    df = duckdb.sql(
        f"SELECT DISTINCT o_custkey::BIGINT AS cust, "
        f"(l_suppkey + 1000000000)::BIGINT AS supp "
        f"FROM '{sf_dir}/lineitem.parquet' l "
        f"JOIN '{sf_dir}/orders.parquet' o ON l.l_orderkey = o.o_orderkey"
    ).df()
    return df.cust.to_numpy(np.int64), df.supp.to_numpy(np.int64)


def _pagerank_lattice(cust, supp, iters=5, scale=1000000,
                      seed_mask_of=None):
    """Exact-integer-lattice PageRank (Graph.pageRank semantics):
    share = r DIV deg (nonneg → floor), incoming = exact BIGINT sum,
    next r = base + (85*incoming) DIV 100. All arithmetic int64; the
    dst-side scatter-add uses sort + reduceat (exact, no float path).
    With seed_mask_of (node-array → bool-array), the personalized
    variant: base/r0 land on seeds only. Returns (nodes, r, seed?)."""
    src = np.concatenate([cust, supp])
    dst = np.concatenate([supp, cust])
    # edges are distinct by construction (pairs distinct, directions
    # disjoint ranges) — mirror of the operator's defensive distinct()
    nodes = np.unique(src)  # symmetric: every node appears as src
    si = np.searchsorted(nodes, src)
    di = np.searchsorted(nodes, dst)
    deg = np.bincount(si, minlength=len(nodes)).astype(np.int64)
    order = np.argsort(di, kind="stable")
    src_by_dst = si[order]
    di_sorted = di[order]
    starts = np.flatnonzero(
        np.concatenate([[True], di_sorted[1:] != di_sorted[:-1]]))
    dst_groups = di_sorted[starts]
    if seed_mask_of is None:
        base = np.full(len(nodes), 15 * scale // 100, dtype=np.int64)
        r = np.full(len(nodes), scale, dtype=np.int64)
        seed = None
    else:
        seed = seed_mask_of(nodes)
        base = np.where(seed, 15 * scale // 100, 0).astype(np.int64)
        r = np.where(seed, scale, 0).astype(np.int64)
    for _ in range(iters):
        share = r // deg  # deg >= 1 everywhere (symmetric graph)
        inc = np.zeros(len(nodes), dtype=np.int64)
        inc[dst_groups] = np.add.reduceat(share[src_by_dst], starts)
        r = base + (85 * inc) // 100
    return nodes, r, seed


def g_pagerank(sf_dir):
    cust, supp = _pr_pairs(sf_dir)
    nodes, r, _ = _pagerank_lattice(cust, supp)
    return pd.DataFrame({"node": nodes, "r": r}).astype("int64")


def g10_ppr(sf_dir):
    cust, supp = _pr_pairs(sf_dir)
    seeds = np.unique(cust[cust % 100 == 0])
    nodes, r, seed = _pagerank_lattice(
        cust, supp, seed_mask_of=lambda n: np.isin(n, seeds))
    return pd.DataFrame({"node": nodes,
                         "is_seed": seed.astype(np.int64),
                         "r": r}).astype("int64")


def _seq_dot(A, B):
    """Row-wise dot with SEQUENTIAL left-fold over dims (matches
    Vectors.dot / list_reduce exactly; np.dot's pairwise order
    would differ in the last ulps)."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for d in range(A.shape[1]):
        acc += A[:, d] * B[:, d]
    return acc


def d_embclusters(sf_dir):
    import duckdb
    df = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id").df()
    ids = df.vec_id.to_numpy().astype(np.int64)
    E = np.stack([np.asarray(e, dtype=np.float64) for e in df.embedding])
    norms = np.sqrt(_seq_dot(E, E))
    # IVF density rule K = max(8, floor(sqrt(N))) — mirrors the Spark
    # side and the SQL oracle (fixed K=8 was the sf10 pair bomb)
    k = max(8, int(np.floor(np.sqrt(float(len(ids))))))
    cent_rows = np.flatnonzero(ids < k)
    cent_ids = ids[cent_rows]
    # assignment: max cosine, ties to the LOWER cid (strict > while
    # scanning cids in ascending order)
    best_cos = np.full(len(ids), -np.inf)
    best_cid = np.zeros(len(ids), dtype=np.int64)
    for row, cid in sorted(zip(cent_rows, cent_ids), key=lambda x: x[1]):
        c = E[row]
        nc = norms[row]
        dot = _seq_dot(E, np.broadcast_to(c, E.shape))
        denom = norms * nc
        cos = np.where(denom > 0.0, dot / np.where(denom == 0, 1, denom), 0.0)
        take = cos > best_cos
        best_cos[take] = cos[take]
        best_cid[take] = cid
    edges = []
    for cid in np.unique(best_cid):
        member = np.flatnonzero(best_cid == cid)
        if len(member) < 2:
            continue
        ii, jj = np.triu_indices(len(member), k=1)
        # chunk the pair verify to bound memory
        for s in range(0, len(ii), 2_000_000):
            a, b = member[ii[s:s + 2_000_000]], member[jj[s:s + 2_000_000]]
            dot = _seq_dot(E[a], E[b])
            denom = norms[a] * norms[b]
            cos = np.where(denom > 0.0,
                           dot / np.where(denom == 0, 1, denom), 0.0)
            hit = cos >= 0.35
            edges.extend(zip(ids[a[hit]].tolist(), ids[b[hit]].tolist()))
    rep, sizes = _components(ids.tolist(), edges)
    rows = [(int(i), rep[int(i)], sizes[rep[int(i)]]) for i in ids]
    return pd.DataFrame(rows,
                        columns=["vec_id", "cluster_rep", "cluster_size"]) \
        .astype("int64")


def g16_ktruss(sf_dir):
    """k-truss (k=4) on the domestic co-supply graph: 3 fixed peel
    rounds then a final support recount — exactly Curation38Q's
    rounds. Supports via sorted-adjacency membership counts (O(d log
    d) per edge), not a wedge join: the within-nation near-cliques
    make the SQL wedge CTE intractable at sf1, but per-edge
    intersection stays linear in the adjacency lists."""
    import duckdb
    e = duckdb.sql(f"""
        SELECT DISTINCT x.sk AS a, y.sk AS b FROM
         (SELECT l.l_orderkey AS ok, s.s_suppkey::BIGINT AS sk,
                 s.s_nationkey AS nk
          FROM '{sf_dir}/lineitem.parquet' l
          JOIN '{sf_dir}/supplier.parquet' s ON l.l_suppkey = s.s_suppkey) x
        JOIN
         (SELECT l.l_orderkey AS ok, s.s_suppkey::BIGINT AS sk,
                 s.s_nationkey AS nk
          FROM '{sf_dir}/lineitem.parquet' l
          JOIN '{sf_dir}/supplier.parquet' s ON l.l_suppkey = s.s_suppkey) y
        ON x.ok = y.ok WHERE x.sk < y.sk AND x.nk = y.nk""").df()
    a = e["a"].to_numpy(np.int64)
    b = e["b"].to_numpy(np.int64)

    def supports(a, b):
        adj = {}
        for u, v in zip(a.tolist(), b.tolist()):
            adj.setdefault(u, []).append(v)
            adj.setdefault(v, []).append(u)
        adj = {u: np.sort(np.array(vs, dtype=np.int64))
               for u, vs in adj.items()}
        sup = np.empty(len(a), dtype=np.int64)
        for i, (u, v) in enumerate(zip(a.tolist(), b.tolist())):
            na, nb = adj[u], adj[v]
            if len(na) > len(nb):
                na, nb = nb, na
            pos = np.searchsorted(nb, na)
            pos[pos == len(nb)] = len(nb) - 1
            sup[i] = int(np.sum(nb[pos] == na))
        return sup

    for _ in range(3):
        sup = supports(a, b)
        keep = sup >= 2
        a, b = a[keep], b[keep]
    sup = supports(a, b)
    return pd.DataFrame({"a": a, "b": b, "support": sup}).astype("int64")


def _load_emb(sf_dir):
    import duckdb
    df = duckdb.sql(
        f"SELECT vec_id, embedding, label FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id").df()
    ids = df.vec_id.to_numpy().astype(np.int64)
    E = np.stack([np.asarray(e, dtype=np.float64) for e in df.embedding])
    labels = df.label.to_numpy().astype(np.int64)
    return ids, E, labels


def _ivf_assign(ids, E):
    """Nearest-centroid ids under the IVF density rule K = max(8, ⌊√N⌋)
    — the same strict-> ascending-cid scan as CentroidArgmax (ties to
    the LOWER cid), cosines via the sequential dim fold."""
    norms = np.sqrt(_seq_dot(E, E))
    k = max(8, int(np.floor(np.sqrt(float(len(ids))))))
    cent_rows = np.flatnonzero(ids < k)
    best_cos = np.full(len(ids), -np.inf)
    best_cid = np.zeros(len(ids), dtype=np.int64)
    for row, cid in sorted(zip(cent_rows, ids[cent_rows]),
                           key=lambda x: x[1]):
        c, nc = E[row], norms[row]
        dot = _seq_dot(E, np.broadcast_to(c, E.shape))
        denom = norms * nc
        cos = np.where(denom > 0.0, dot / np.where(denom == 0, 1, denom), 0.0)
        take = cos > best_cos
        best_cos[take] = cos[take]
        best_cid[take] = cid
    return best_cid, norms


def _knn3(sf_dir, k_nb):
    """IVF-blocked KNN join rows (vec_id, nb_id, cos6, rnk) — mirrors
    Similarity.knnJoin: within-cluster pairs, 6-dp HALF_UP-rounded
    cosine, rank by (cos desc, nb_id), top k_nb. The per-cluster cosine
    matrix accumulates dim-by-dim (outer-product adds in dim order), so
    every pair's sum is the same left fold as Vectors.dot — bitwise."""
    ids, E, labels = _load_emb(sf_dir)
    cid, norms = _ivf_assign(ids, E)
    rows = []
    for c in np.unique(cid):
        m = np.flatnonzero(cid == c)
        if len(m) < 2:
            continue
        Em = E[m]
        C = np.zeros((len(m), len(m)), dtype=np.float64)
        for d in range(Em.shape[1]):
            C += Em[:, d][:, None] * Em[:, d][None, :]
        denom = norms[m][:, None] * norms[m][None, :]
        cos = np.where(denom > 0.0, C / np.where(denom == 0, 1, denom), 0.0)
        for i in range(len(m)):
            cands = [( -_round6(cos[i, j]), int(ids[m[j]]))
                     for j in range(len(m)) if j != i]
            cands.sort()
            for r, (negc, nb) in enumerate(cands[:k_nb], start=1):
                rows.append((int(ids[m[i]]), nb, -negc, r))
    return rows, ids, labels


def s_knn_join(sf_dir):
    rows, _, _ = _knn3(sf_dir, 3)
    return pd.DataFrame(rows, columns=["vec_id", "nb_id", "cos", "rnk"]) \
        .astype({"vec_id": "int64", "nb_id": "int64", "cos": "float64",
                 "rnk": "int64"})


def m34_knn_clf(sf_dir):
    rows, ids, labels = _knn3(sf_dir, 3)
    lab = {int(i): int(l) for i, l in zip(ids, labels)}
    votes = {}
    for v, nb, _, _ in rows:
        votes.setdefault(v, {})
        nl = lab[nb]
        votes[v][nl] = votes[v].get(nl, 0) + 1
    out = []
    for v, cnt in sorted(votes.items()):
        # majority: count desc, then smallest label (the packed argmax)
        pred = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        out.append((v, lab[v], pred, 1 if lab[v] == pred else 0))
    return pd.DataFrame(out,
                        columns=["vec_id", "label", "pred_label",
                                 "correct"]).astype("int64")


def t_chrf(sf_dir):
    """Independent chrF(beta=2) recompute: per-doc 2/3-gram multiset
    counts over the space-stripped normalizeAz text (grams coded as
    base-128 byte integers - a faithful bijection, no hashing), then
    for each adjacent (i, i+1) pair clip = sum(min(cand_count,
    ref_count)); F mirrors the Spark expression tree term-for-term
    (((5.0*p)*r)/((4.0*p)+r), (f2+f3)/2.0) so raw doubles compare
    bit-exact. A doc pair emits iff both sides have >=1 gram of BOTH
    orders - the per-n inner-join semantics of the query."""
    df = _docs(sf_dir)
    codes = {}
    for r in df.itertuples():
        t = _norm_az(r.text).replace(" ", "")
        if len(t) < 3:
            # no 3-grams => the four-way not-null filter drops every
            # pair this doc participates in (either side)
            codes[int(r.doc_id)] = None
            continue
        a = np.frombuffer(t.encode("ascii"), dtype=np.uint8).astype(np.int64)
        c2 = np.unique(a[:-1] * 128 + a[1:], return_counts=True)
        c3 = np.unique(a[:-2] * 16384 + a[1:-1] * 128 + a[2:],
                       return_counts=True)
        codes[int(r.doc_id)] = (c2, c3)
    out = []
    for i in sorted(codes):
        c, ref = codes[i], codes.get(i + 1)
        if c is None or ref is None or (i + 1) not in codes:
            continue
        row = [i, i + 1]
        fs = []
        for (cv, cc), (rv, rc) in ((c[0], ref[0]), (c[1], ref[1])):
            cand, reftot = int(cc.sum()), int(rc.sum())
            _, ci, ri = np.intersect1d(cv, rv, assume_unique=True,
                                       return_indices=True)
            clip = int(np.minimum(cc[ci], rc[ri]).sum())
            row += [cand, reftot, clip]
            if clip > 0:
                p, q = clip / float(cand), clip / float(reftot)
                fs.append(5.0 * p * q / (4.0 * p + q))
            else:
                fs.append(0.0)
        out.append(row + [(fs[0] + fs[1]) / 2.0])
    cols = ["doc_a", "doc_b", "cand2", "ref2", "clip2",
            "cand3", "ref3", "clip3", "chrf"]
    return pd.DataFrame(out, columns=cols).astype(
        {c: "int64" for c in cols[:-1]} | {"chrf": "float64"})


def _lattice(x, scale):
    """Q.lattice: round(x * scale) HALF_UP (Spark rounds the double's
    shortest decimal repr) as int64; the double product is the same
    IEEE op on both sides, and only near-ties take the Decimal path."""
    y = np.asarray(x, dtype=np.float64) * scale
    a = np.abs(y)
    r = np.sign(y) * np.floor(a + 0.5)
    for i in np.flatnonzero(np.abs(a - np.floor(a) - 0.5) < 1e-6):
        r[i] = float(Decimal(repr(float(y[i]))).quantize(
            Decimal(1), rounding=ROUND_HALF_UP))
    return r.astype(np.int64)


def _lattice_ranks(v):
    """Per row: the count clo of lattice values strictly below its
    value v and the count m of its own value (the exclusive value-count
    cumsum both rank queries start from), plus the (m, clo) lattice."""
    vals, inv, m = np.unique(v, return_inverse=True, return_counts=True)
    clo = np.concatenate([[0], np.cumsum(m)[:-1]])
    return clo[inv], m[inv], m, clo


def _exact_sum(xs):
    return sum(int(x) for x in xs)


def a102_chatterjee_xi(sf_dir):
    """Chatterjee's xi with the rows in (x, ok, ln, y) order: exact
    Python integers for r, l, the lattice moments and sum |r_{i+1} -
    r_i|, then the query's own final double operations."""
    import duckdb
    li = duckdb.sql(
        f"SELECT l_quantity, l_extendedprice, l_orderkey, l_linenumber "
        f"FROM '{sf_dir}/lineitem.parquet'").df()
    x = np.trunc(li.l_quantity.to_numpy(np.float64)).astype(np.int64)
    y = _lattice(li.l_extendedprice.to_numpy(np.float64), 100)
    clo, m_row, m, clo_v = _lattice_ranks(y)
    r = clo + m_row
    n = int(len(y))
    order = np.lexsort((y, li.l_linenumber.to_numpy(np.int64),
                        li.l_orderkey.to_numpy(np.int64), x))
    sad = _exact_sum(np.abs(np.diff(r[order])))
    lv = [n - int(c) for c in clo_v]
    sl1 = sum(l * int(k) for l, k in zip(lv, m))
    sl2 = sum(l * l * int(k) for l, k in zip(lv, m))
    xi = 1.0 - float(sad * n) / float((sl1 * n - sl2) * 2)
    return pd.DataFrame({"n": [n], "xi": [xi]}).astype(
        {"n": "int64", "xi": "float64"})


def a103_bartels_rvn(sf_dir):
    """Bartels' rank von Neumann ratio over the (ts_us, event_id)
    order on the doubled mid-rank lattice mr2 = 2*below + ties + 1:
    exact Python integers for the moments and sum (d mr2)^2, then the
    query's own final double operations."""
    import duckdb
    e = duckdb.sql(f"SELECT epoch_us(ts) AS ts_us, event_id, value "
                   f"FROM '{sf_dir}/events.parquet'").df()
    c = _lattice(e.value.to_numpy(np.float64), 100)
    clo, m_row, m, clo_v = _lattice_ranks(c)
    mr2 = clo * 2 + m_row + 1
    order = np.lexsort((e.event_id.to_numpy(np.int64),
                        e.ts_us.to_numpy(np.int64)))
    sdd = sum(int(d) * int(d) for d in np.diff(mr2[order]))
    mv = [int(cl) * 2 + int(k) + 1 for cl, k in zip(clo_v, m)]
    n = sum(int(k) for k in m)
    s2 = sum(v * v * int(k) for v, k in zip(mv, m))
    s1 = sum(v * int(k) for v, k in zip(mv, m))
    rvn = float(sdd * n) / float(s2 * n - s1 * s1)
    return pd.DataFrame({"n": [n], "rvn": [rvn]}).astype(
        {"n": "int64", "rvn": "float64"})


ORACLES = {
    "t_chrf": t_chrf,
    "d_neardup": d_neardup,
    "d_components": d_components,
    "d_embclusters": d_embclusters,
    "c_corpus": c_corpus,
    "g16_ktruss": g16_ktruss,
    "s_knn_join": s_knn_join,
    "m34_knn_clf": m34_knn_clf,
    "g_pagerank": g_pagerank,
    "g10_ppr": g10_ppr,
    "a102_chatterjee_xi": a102_chatterjee_xi,
    "a103_bartels_rvn": a103_bartels_rvn,
}


def compute(name, sf_dir):
    return ORACLES[name](sf_dir)

"""Local emulation of the driver's correctness gate: run each queries()
entry on Spark AND its oracle_sql() on DuckDB over the same parquet,
compare row count + column names + order-insensitive value hash.

Usage: python3 scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-robust float format: repr of rounded value
        return repr(round(v, 9))
    if isinstance(v, (datetime.datetime,)):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def pandas_dtype_sig(sdf, duck_rel) -> tuple[str, str]:
    """Emulate the driver's pandas fetch path: DuckDB HUGEINT (e.g. sum of
    ints) becomes float64 in pandas while Spark bigint stays int64, which
    hash-mismatches even when fetchall() values are equal (round-1 lesson:
    column_stats/flux/token_budget).  Returns sorted (col:dtype) signatures
    for both sides so the divergence is caught locally."""
    sp = sdf.toPandas()
    dp = duck_rel.df()

    def klass(dt) -> str:
        s = str(dt)
        # int32 vs int64 / datetime64[ns] vs [us] stringify identically, so the
        # driver hash does not care — only the int/float/other class matters.
        if s.startswith(("int", "uint")):
            return "int"
        if s.startswith("float"):
            return "float"
        if s.startswith("datetime"):
            return "datetime"
        return "object"

    sig = lambda df: ",".join(  # noqa: E731
        f"{c}:{klass(df[c].dtype)}" for c in sorted(df.columns)
    )
    return sig(sp), sig(dp)


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


# ---------------------------------------------------------------------------
# Bounds mode: machine checks for the queries with no SQL-expressible
# oracle (LSH/sketch/k-means kernels).  Each returns a list of problem
# strings (empty = pass) given the Spark result rows, so every REGISTRY
# row carries SOME machine verdict: hash-match, or a named bound.
# ---------------------------------------------------------------------------

def _shingle_set(text: str, k: int = 5) -> frozenset:
    toks = [t for t in (text or "").strip().split() if t]
    if not toks:
        return frozenset()
    if len(toks) < k:
        return frozenset({" ".join(toks)})
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


def _texts(con) -> dict:
    return dict(con.execute("SELECT doc_id, text FROM documents").fetchall())


def _bounds_kll(spark, sf, con, rows, cols):
    """Sketch quantile must sit within the KLL rank-error bound (0.025,
    the pytest bound for k=200) of the exact per-lang rank.  A value's
    rank is the interval [P(X < v), P(X <= v)], so an exact quantile that
    several rows share is not an error."""
    idx = {c: i for i, c in enumerate(cols)}
    problems = []
    for r in rows:
        lang = r[idx["lang"]]
        for q, col in ((0.5, "q_50"), (0.95, "q_95")):
            est = r[idx[col]]
            lo, hi = con.execute(
                "SELECT avg(CASE WHEN n_chars < ? THEN 1.0 ELSE 0.0 END), "
                "avg(CASE WHEN n_chars <= ? THEN 1.0 ELSE 0.0 END) "
                "FROM documents WHERE lang = ?", [est, est, lang]
            ).fetchone()
            err = max(lo - q, q - hi, 0.0)
            if err > 0.025:
                problems.append(f"{lang}/{col}: rank error {err:.4f} > 0.025")
    return problems


def _exact_topk(con, max_qid: int, k: int) -> dict:
    """query_id -> set(neighbor_id) exact cosine top-k from DuckDB."""
    rows = con.execute(f"""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        ), scored AS (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
                 list_dot_product(q.emb, c.emb)
                 / (sqrt(list_dot_product(q.emb, q.emb))
                    * sqrt(list_dot_product(c.emb, c.emb))) AS cos
          FROM v q CROSS JOIN v c
          WHERE q.vec_id < {max_qid} AND q.vec_id != c.vec_id
        ), ranked AS (
          SELECT qid, nid, row_number() OVER (PARTITION BY qid
                          ORDER BY cos DESC, nid ASC) AS rk FROM scored
        ) SELECT qid, nid FROM ranked WHERE rk <= {k}
    """).fetchall()
    out: dict = {}
    for qid, nid in rows:
        out.setdefault(qid, set()).add(nid)
    return out


def _bounds_ann(floor: float):
    def check(spark, sf, con, rows, cols):
        idx = {c: i for i, c in enumerate(cols)}
        exact = _exact_topk(con, 20, 5)
        got: dict = {}
        for r in rows:
            got.setdefault(r[idx["query_id"]], set()).add(r[idx["neighbor_id"]])
        hits = sum(len(got.get(q, set()) & e) for q, e in exact.items())
        total = sum(len(e) for e in exact.values())
        recall = hits / total if total else 1.0
        if recall < floor:
            return [f"recall@5 {recall:.3f} < floor {floor}"]
        return []
    return check


def _bounds_simhash(spark, sf, con, rows, cols):
    """The construction guarantees EXACTNESS (complete recall inside the
    radius, hamming predicate kills everything outside): brute-force the
    signatures in numpy and require set equality.  The radius comes from
    the registry (entry_queries.SIMHASH_RADIUS — not hardcoded here);
    hamming is computed BLOCKWISE with a 16-bit popcount table (the
    round-3 n x n int64 matrices were ~60 GB at 50k docs), and corpora
    too large even for blockwise O(n^2) refuse loudly instead of OOMing."""
    import numpy as np

    from audio_quality_checker_spark.entry_queries import SIMHASH_RADIUS
    from audio_quality_checker_spark.operators.dedup import simhash_signatures

    d = spark.read.parquet(f"{sf}/documents.parquet")
    sig_rows = simhash_signatures(d).collect()
    n = len(sig_rows)
    if n > 200_000:
        return [
            f"bounds brute force refused: {n} docs is {n*(n-1)//2:.2e} "
            "pairs — run bounds mode at a smaller sf"
        ]
    ids = np.array([r["doc_id"] for r in sig_rows], dtype=np.int64)
    sigs = np.array([r["simhash"] for r in sig_rows], dtype=np.int64)
    order = np.argsort(ids)
    ids, sigs = ids[order], sigs[order].view(np.uint64)
    pop16 = np.array(
        [bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8
    )
    expected = set()
    chunk = max(1, 2**24 // max(n, 1))  # ~128 MB of uint64 xor per block
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        xor = sigs[lo:hi, None] ^ sigs[None, :]
        ham = np.zeros(xor.shape, dtype=np.uint8)
        for s in (0, 16, 32, 48):
            ham += pop16[((xor >> np.uint64(s)) & np.uint64(0xFFFF)).astype(np.int64)]
        ia, ib = np.where(ham <= SIMHASH_RADIUS)
        for a, b in zip(ia + lo, ib):
            if ids[a] < ids[b]:
                expected.add((int(ids[a]), int(ids[b]), int(ham[a - lo, b])))
    idx = {c: i for i, c in enumerate(cols)}
    got = {(r[idx["id_a"]], r[idx["id_b"]], r[idx["hamming"]]) for r in rows}
    problems = []
    if got != expected:
        problems.append(
            f"pair set != brute force: missing {len(expected - got)}, "
            f"spurious {len(got - expected)}"
        )
    return problems


def _bounds_minhash(spark, sf, con, rows, cols):
    """(a) every exact-duplicate text pair must be reported with
    est_jaccard 1.0; (b) every reported estimate must sit within 4
    binomial stderr (<=0.18 at 128 hashes) of the true shingle-set
    jaccard recomputed independently in Python."""
    idx = {c: i for i, c in enumerate(cols)}
    texts = _texts(con)
    got = {(r[idx["id_a"]], r[idx["id_b"]]): r[idx["est_jaccard"]] for r in rows}
    problems = []
    dup_pairs = con.execute("""
        SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b
        ON a.text = b.text AND a.doc_id < b.doc_id
    """).fetchall()
    for a, b in dup_pairs:
        if got.get((a, b)) != 1.0:
            problems.append(f"exact dup ({a},{b}) not reported at 1.0")
    shingles = {i: _shingle_set(t) for i, t in texts.items()}
    for (a, b), est in got.items():
        sa, sb = shingles[a], shingles[b]
        union = len(sa | sb)
        true_j = (len(sa & sb) / union) if union else 1.0
        if abs(est - true_j) > 0.18:
            problems.append(
                f"({a},{b}): est {est:.3f} vs true {true_j:.3f} (>0.18 off)"
            )
    return problems


def _bounds_near_dup(spark, sf, con, rows, cols):
    """(a) every emitted pair's jaccard must EQUAL the true token-set
    jaccard, clear the threshold, and sit inside the pair universe
    (same lang, length-bucket delta <= 1 under adjacent-bucket probing);
    (b) pairs that share a bucket whose probed population is within
    block_cap must match the exhaustive Python pairwise result exactly
    (the exact route is complete by construction)."""
    idx = {c: i for i, c in enumerate(cols)}
    got = {(r[idx["id_a"]], r[idx["id_b"]]): r[idx["jaccard"]] for r in rows}
    tok_rows = con.execute("""
        SELECT doc_id, lang, CAST(floor(length(text) / 100) AS BIGINT),
               list_distinct(list_filter(
                   regexp_split_to_array(trim(text), '\\s+'),
                   t -> t != ''))
        FROM documents
    """).fetchall()
    toks = {r[0]: (r[1], r[2], frozenset(r[3])) for r in tok_rows}
    problems = []
    for (a, b), j in got.items():
        (la, ba, sa), (lb, bb, sb) = toks[a], toks[b]
        union = len(sa | sb)
        true_j = round(len(sa & sb) / union, 6) if union else None
        if true_j is None or abs(j - true_j) > 1e-6 or j < 0.5:
            problems.append(f"({a},{b}): jaccard {j} != true {true_j}")
        if la != lb or abs(ba - bb) > 1:
            problems.append(f"({a},{b}): outside the pair universe")
    from collections import Counter

    # probed population of bucket b = docs in b plus docs probing up
    # from b-1 (adjacent-bucket probing: each doc lands in blk, blk+1)
    floor_n = Counter((lang, blk) for lang, blk, _ in toks.values())
    blk_n = Counter()
    for (lang, blk), c in floor_n.items():
        blk_n[(lang, blk)] += c
        blk_n[(lang, blk + 1)] += c

    def shared_small_bucket(a, b) -> bool:
        # probed x probed comparisons are excluded operator-side, so a
        # pair's ONE comparable shared bucket is max(ba, bb): the upper
        # doc is home there and the lower doc probes up into it.  The
        # exact-route guarantee holds iff THAT bucket is within cap.
        (la, ba, _), (lb, bb, _) = toks[a], toks[b]
        if la != lb:
            return False
        return blk_n[(la, max(ba, bb))] <= 40

    small_expected = set()
    items = sorted(toks.items())
    for i in range(len(items)):
        for j2 in range(i + 1, len(items)):
            (da, (la, ba, sa)), (db, (lb, bb, sb)) = items[i], items[j2]
            if la != lb or abs(ba - bb) > 1:
                continue
            if not shared_small_bucket(da, db):
                continue
            union = len(sa | sb)
            if union and round(len(sa & sb) / union, 6) >= 0.5:
                small_expected.add((da, db))
    small_got = {p for p in got if shared_small_bucket(p[0], p[1])}
    if small_got != small_expected:
        problems.append(
            f"exact-route pairs mismatch: missing "
            f"{len(small_expected - small_got)}, spurious "
            f"{len(small_got - small_expected)}"
        )
    return problems


def _bounds_components(spark, sf, con, rows, cols):
    """Exact equality with a driver-side union-find over the SAME
    (deterministic, seeded) MinHash pair edges."""
    from audio_quality_checker_spark.operators.dedup import minhash_near_dups

    d = spark.read.parquet(f"{sf}/documents.parquet")
    edges = [
        (r["id_a"], r["id_b"])
        for r in minhash_near_dups(d, threshold=0.5)
        .select("id_a", "id_b").collect()
    ]
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected: dict = {}
    for x in parent:
        expected.setdefault(find(x), []).append(x)
    expected = {
        k: sorted(v) for k, v in expected.items()
    }
    idx = {c: i for i, c in enumerate(cols)}
    # members is a comma-joined string (driver-canonicalizer-safe);
    # parse back to ids for the set-equality check
    got = {
        r[idx["component"]]: sorted(int(x) for x in r[idx["members"]].split(","))
        for r in rows
    }
    if got != expected:
        return [
            f"clusters != union-find: {len(set(expected) - set(got))} "
            f"missing, {len(set(got) - set(expected))} spurious"
        ]
    return []


def _bounds_incremental(spark, sf, con, rows, cols):
    """Set equality with the BATCH pair search restricted to the pair
    universe the incremental ingest owns: every minhash_near_dups pair
    over the full corpus that touches at least one odd (new-crawl) doc,
    with identical estimates — and nothing else (state x state pairs
    must be structurally absent)."""
    from audio_quality_checker_spark.operators.dedup import minhash_near_dups

    d = spark.read.parquet(f"{sf}/documents.parquet")
    batch = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_near_dups(d, threshold=0.5).collect()
    }
    expected = {
        p: e for p, e in batch.items() if p[0] % 2 == 1 or p[1] % 2 == 1
    }
    idx = {c: i for i, c in enumerate(cols)}
    got = {(r[idx["id_a"]], r[idx["id_b"]]): r[idx["est_jaccard"]] for r in rows}
    problems = []
    if got != expected:
        state_only = [p for p in got if p[0] % 2 == 0 and p[1] % 2 == 0]
        problems.append(
            f"pair set != batch-restricted: missing "
            f"{len(set(expected) - set(got))}, spurious "
            f"{len(set(got) - set(expected))}, state-x-state leaked "
            f"{len(state_only)}"
        )
    return problems


def _oracle_bpe_encode_len(word_bytes: bytes,
                           merges: list[tuple[int, int]]) -> int:
    """INDEPENDENT reference encoder — deliberately a different
    algorithm from the engine's encode_len (which scans for the
    lowest-rank adjacent pair each round): apply the merges one rank at
    a time in learned order, replacing every occurrence left-to-right
    before moving to the next rank.  The two are equivalent because a
    merge at rank r can only create pairs containing the new id 256+r,
    whose rank is necessarily > r — so by the time rank r is applied,
    every lower-rank pair that will ever exist has been consumed.  An
    encoding bug in either implementation breaks the equality gate."""
    w = list(word_bytes)
    for rank, (a, b) in enumerate(merges):
        i, out = 0, []
        while i < len(w):
            if i + 1 < len(w) and w[i] == a and w[i + 1] == b:
                out.append(256 + rank)
                i += 2
            else:
                out.append(w[i])
                i += 1
        w = out
    return len(w)


def _bounds_bpe(spark, sf, con, rows, cols):
    """Exact per-lang equality with an INDEPENDENT pure-Python
    reference encoder (_oracle_bpe_encode_len — rank-ordered
    application, a different algorithm from the engine's
    lowest-rank-first scan) applying the same deterministically
    retrained merge list to every document — validates the encoder
    itself, the distributed memoized encoding, and the training
    determinism."""
    from audio_quality_checker_spark.functions.bpe import train_bpe

    d = spark.read.parquet(f"{sf}/documents.parquet")
    merges = train_bpe(d, vocab_size=384, sample_cap=2_000)
    texts = con.execute(
        "SELECT lang, text FROM documents"
    ).fetchall()
    expected: dict = {}
    memo: dict = {}
    for lang, t in texts:
        total = 0
        for w in (t or "").split():
            if w not in memo:
                memo[w] = _oracle_bpe_encode_len(w.encode("utf-8"), merges)
            total += memo[w]
        e = expected.setdefault(lang, [0, 0])
        e[0] += total
        e[1] += 1
    idx = {c: i for i, c in enumerate(cols)}
    got = {
        r[idx["lang"]]: [r[idx["total_bpe_tokens"]], r[idx["n_docs"]]]
        for r in rows
    }
    if got != expected:
        return [
            f"per-lang budgets != reference encoder: "
            f"{ {k: (got.get(k), expected.get(k)) for k in set(got) | set(expected) if got.get(k) != expected.get(k)} }"
        ]
    return []


def _bounds_embed(spark, sf, con, rows, cols):
    """Set equality (ids AND rounded cosines) with a numpy brute force
    over the SAME planted-perturbation construction as
    q_embedding_dedup.  The planted pairs sit at cosine ~0.999 against
    a 0.98 threshold with nothing near the boundary, so sketch recall
    is deterministic-complete here and exact equality is the right
    bar."""
    import numpy as np

    vec_rows = con.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in vec_rows]
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in vec_rows])
    pert_ids = [i + 1_000_000 for i in ids if i < 50]
    pert = mat[[i for i, v in enumerate(ids) if v < 50]].copy()
    pert[:, 0] = pert[:, 0] * 1.2 + 0.05
    all_ids = np.array(ids + pert_ids)
    all_mat = np.vstack([mat, pert])
    n = all_mat / np.linalg.norm(all_mat, axis=1, keepdims=True)
    cos = n @ n.T
    ia, ib = np.where(np.triu(cos >= 0.98, k=1))
    expected = {}
    for a, b in zip(ia, ib):
        x, y = int(all_ids[a]), int(all_ids[b])
        expected[(min(x, y), max(x, y))] = float(cos[a, b])
    idx = {c: i for i, c in enumerate(cols)}
    got = {(r[idx["id_a"]], r[idx["id_b"]]): r[idx["cosine"]] for r in rows}
    problems = []
    if set(got) != set(expected):
        problems.append(
            f"pair set != brute force: missing "
            f"{len(set(expected) - set(got))}, spurious "
            f"{len(set(got) - set(expected))}"
        )
    else:
        # ids equal: cosines must agree to 1e-6 (summation-order ulps
        # keep exact round-6 equality out of reach)
        off = [
            p for p in got if abs(got[p] - expected[p]) > 1e-6
        ]
        if off:
            problems.append(f"{len(off)} cosines off by >1e-6: {off[:3]}")
    return problems


def _bounds_embed_incremental(spark, sf, con, rows, cols):
    """Set equality (ids AND rounded cosines) with a numpy brute force
    over q_embedding_dedup_incremental's construction, restricted to
    pairs touching the NEW (odd-id) side — the incremental operator
    must find exactly the batch pairs that involve the incoming crawl
    and never re-emit state x state pairs."""
    import numpy as np

    vec_rows = con.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in vec_rows]
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in vec_rows])
    pert_ids = [i + 1_000_001 for i in ids if i < 50]
    pert = mat[[i for i, v in enumerate(ids) if v < 50]].copy()
    pert[:, 0] = pert[:, 0] * 1.2 + 0.05
    all_ids = np.array(ids + pert_ids)
    all_mat = np.vstack([mat, pert])
    n = all_mat / np.linalg.norm(all_mat, axis=1, keepdims=True)
    cos = n @ n.T
    ia, ib = np.where(np.triu(cos >= 0.98, k=1))
    expected = {}
    for a, b in zip(ia, ib):
        x, y = int(all_ids[a]), int(all_ids[b])
        if x % 2 == 0 and y % 2 == 0:
            continue  # state x state: structurally excluded
        expected[(min(x, y), max(x, y))] = float(cos[a, b])
    idx = {c: i for i, c in enumerate(cols)}
    got = {(r[idx["id_a"]], r[idx["id_b"]]): r[idx["cosine"]] for r in rows}
    problems = []
    if set(got) != set(expected):
        problems.append(
            f"new-touching pair set != brute force: missing "
            f"{len(set(expected) - set(got))}, spurious "
            f"{len(set(got) - set(expected))}"
        )
    else:
        off = [p for p in got if abs(got[p] - expected[p]) > 1e-6]
        if off:
            problems.append(f"{len(off)} cosines off by >1e-6: {off[:3]}")
    return problems


def _load_documents(spark, sf):
    return spark.read.parquet(f"{sf}/documents.parquet")


def _true_universe_pairs(con, threshold=0.5):
    """All true token-set-jaccard pairs inside the guarded pair universe
    (same lang, |length-bucket delta| <= 1), exhaustively, Python-side."""
    tok_rows = con.execute("""
        SELECT doc_id, lang, CAST(floor(length(text) / 100) AS BIGINT),
               list_distinct(list_filter(
                   regexp_split_to_array(trim(text), '\\s+'),
                   t -> t != ''))
        FROM documents
    """).fetchall()
    toks = {r[0]: (r[1], r[2], frozenset(r[3])) for r in tok_rows}
    items = sorted(toks.items())
    true_pairs = set()
    for i in range(len(items)):
        for j in range(i + 1, len(items)):
            (da, (la, ba, sa)), (db, (lb, bb, sb)) = items[i], items[j]
            if la != lb or abs(ba - bb) > 1:
                continue
            union = len(sa | sb)
            if union and len(sa & sb) / union >= threshold - 1e-12:
                true_pairs.add((da, db))
    return toks, true_pairs


def _uf_survivors(all_ids, edges):
    """keep-one survivor set via driver union-find (min-id reps)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    losers = {x for x in parent if find(x) != x}
    return set(all_ids) - losers


def _bounds_members(spark, sf, con, rows, cols):
    """Membership surface: (a) precision exact — every member truly has
    a near-dup in the pair universe; (b) exact-route parity — every doc
    with a true pair in a small (within-cap) bucket IS a member;
    (c) star hot-route recall floor 0.9 overall; (d) at the all-exact
    cap the membership set EQUALS the pair-surface-derived set (the
    round-5 verdict's set-equality criterion)."""
    from audio_quality_checker_spark.operators.dedup import (
        jaccard_pairs_guarded,
        near_dup_members_guarded,
    )

    idx = {c: i for i, c in enumerate(cols)}
    got = {r[idx["doc_id"]] for r in rows}
    toks, true_pairs = _true_universe_pairs(con)
    true_members = {d for p in true_pairs for d in p}
    problems = []
    spurious = got - true_members
    if spurious:
        problems.append(f"{len(spurious)} members with no true near-dup")
    from collections import Counter

    floor_n = Counter((lang, blk) for lang, blk, _ in toks.values())
    blk_n = Counter()
    for (lang, blk), c in floor_n.items():
        blk_n[(lang, blk)] += c
        blk_n[(lang, blk + 1)] += c
    exact_members = set()
    for a, b in true_pairs:
        (la, ba, _), (_, bb, _) = toks[a], toks[b]
        if blk_n[(la, max(ba, bb))] <= 40:
            exact_members.update((a, b))
    missing_exact = exact_members - got
    if missing_exact:
        problems.append(
            f"{len(missing_exact)} exact-route members missing"
        )
    if true_members and len(got & true_members) < 0.9 * len(true_members):
        problems.append(
            f"recall {len(got & true_members)}/{len(true_members)} < 0.9"
        )
    # all-exact cap: full set equality with the pair surface
    d = _load_documents(spark, sf)
    pairs = jaccard_pairs_guarded(d, threshold=0.5, block_cap=1_000_000)
    pair_members = {
        r["doc_id"]
        for r in pairs.selectExpr("id_a AS doc_id")
        .unionByName(pairs.selectExpr("id_b AS doc_id"))
        .distinct()
        .collect()
    }
    mem = near_dup_members_guarded(d, threshold=0.5, block_cap=1_000_000)
    got_exact = {r["doc_id"] for r in mem.collect()}
    pairs.unpersist()
    mem.unpersist()
    if got_exact != pair_members:
        problems.append(
            f"all-exact membership differs: missing "
            f"{len(pair_members - got_exact)}, spurious "
            f"{len(got_exact - pair_members)}"
        )
    return problems


def _bounds_edges(spark, sf, con, rows, cols):
    """Edge surface: (a) soundness — every edge connects two docs that
    are in the SAME connected component of the TRUE universe pair graph
    (certificate edges are (component_min, member) connectivity
    witnesses, not necessarily direct pairs; a cross-component edge
    would wrongly merge clusters); (b) at the all-exact cap, keep-one
    survivors over the edges EQUAL survivors over the full pair surface
    (the round-5 verdict's set-equality criterion)."""
    from audio_quality_checker_spark.operators.dedup import (
        jaccard_edges_guarded,
        jaccard_pairs_guarded,
    )

    idx = {c: i for i, c in enumerate(cols)}
    got_edges = [(r[idx["id_a"]], r[idx["id_b"]]) for r in rows]
    got_j = {(r[idx["id_a"]], r[idx["id_b"]]): r[idx["jaccard"]]
             for r in rows}
    toks, true_pairs = _true_universe_pairs(con)
    problems = []
    # true components of the universe pair graph
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in true_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for (a, b), j in got_j.items():
        if find(a) != find(b):
            problems.append(
                f"edge ({a},{b}) joins two distinct true components"
            )
        if not (0.5 - 1e-9 <= j <= 1.0 + 1e-9):
            problems.append(f"edge ({a},{b}) jaccard {j} out of range")
    # all-exact cap: survivor-set equality with the pair surface
    d = _load_documents(spark, sf)
    all_ids = set(toks)
    pairs = jaccard_pairs_guarded(d, threshold=0.5, block_cap=1_000_000)
    pair_edges = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    pairs.unpersist()
    edges = jaccard_edges_guarded(d, threshold=0.5, block_cap=1_000_000)
    cert_edges = [(r["id_a"], r["id_b"]) for r in edges.collect()]
    edges.unpersist()
    surv_pairs = _uf_survivors(all_ids, pair_edges)
    surv_cert = _uf_survivors(all_ids, cert_edges)
    if surv_pairs != surv_cert:
        problems.append(
            f"all-exact survivors differ: {len(surv_pairs ^ surv_cert)} "
            "docs in the symmetric difference"
        )
    return problems


BOUNDS = {
    "kll_quantiles": _bounds_kll,
    "tdigest_quantiles": _bounds_kll,
    "dedup_components": _bounds_components,
    "ann_topk": _bounds_ann(0.70),
    "ivf_topk": _bounds_ann(0.70),
    "simhash_dedup": _bounds_simhash,
    "minhash_dedup": _bounds_minhash,
    "near_dup_pairs": _bounds_near_dup,
    "near_dup_members": _bounds_members,
    "dedup_edges": _bounds_edges,
    "dedup_incremental": _bounds_incremental,
    "token_budget_bpe": _bounds_bpe,
    "embedding_dedup": _bounds_embed,
    "embedding_dedup_incremental": _bounds_embed_incremental,
}


def main():
    args = [a for a in sys.argv[1:] if a != "--json"]
    json_out = "--json" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    records: dict[str, dict] = {}

    from audio_quality_checker_spark.entry_queries import REGISTRY, TABLES
    from audio_quality_checker_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        # a table may be one file or a directory of slices (the sf1
        # fixture writes payload tables multi-file, like a real table)
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
        )

    failures = []
    for name, (fn, sql) in REGISTRY.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            records[name] = {"check": "spark_error", "pass": False}
            print(f"{name:24s} SPARK ERROR: {str(e)[:140]}")
            continue
        if sql is None:
            bounds = BOUNDS.get(name)
            if bounds is None:
                records[name] = {"check": "rows_only", "pass": True,
                                 "rows": len(s_rows)}
                print(f"{name:24s} rows={len(s_rows):6d}  (no oracle — rows-only)")
                continue
            try:
                probs = bounds(spark, sf_dir, con, s_rows, s_cols)
            except Exception as e:  # noqa: BLE001
                probs = [f"BOUNDS ERROR: {e}"]
            if probs:
                failures.append((name, "; ".join(probs)))
                print(f"{name:24s} BOUNDS FAIL  {'; '.join(probs)[:160]}")
            else:
                print(f"{name:24s} BOUNDS OK  rows={len(s_rows)}")
            records[name] = {
                "check": "bounds", "pass": not probs,
                "rows": len(s_rows),
                "detail": (bounds.__doc__ or "recall floor vs exact "
                           "top-k").strip().split("\n")[0],
                "problems": probs,
            }
            continue
        try:
            res = con.sql(sql)
            d_cols = [c for c in res.columns]
            d_rows = res.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"{name:24s} DUCKDB ERROR: {str(e)[:140]}")
            continue
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"schema {sorted(s_cols)} != {sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rows {len(s_rows)} != {len(d_rows)}")
        if not problems:
            sig_s, sig_d = pandas_dtype_sig(sdf, con.sql(sql))
            if sig_s != sig_d:
                problems.append(f"pandas dtypes {sig_s} != {sig_d}")
        if not problems:
            h_s = value_hash(s_rows, s_cols)
            h_d = value_hash(d_rows, d_cols)
            if h_s != h_d:
                problems.append("value-hash mismatch")
                # print first differing normalized line to aid debugging
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                ls = sorted("\x1f".join(norm_cell(r[i]) for i in order_s) for r in s_rows)
                ld = sorted("\x1f".join(norm_cell(r[i]) for i in order_d) for r in d_rows)
                for a, b in zip(ls, ld):
                    if a != b:
                        print(f"   spark : {a[:160]}")
                        print(f"   duckdb: {b[:160]}")
                        break
        records[name] = {"check": "sql_oracle", "pass": not problems,
                         "rows": len(s_rows)}
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"{name:24s} FAIL  {'; '.join(problems)}")
        else:
            print(f"{name:24s} OK    rows={len(s_rows)}")

    if json_out:
        import json

        path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "CORRECTNESS_bounds.json")
        with open(path, "w") as f:
            json.dump({"sf_dir": sf_dir, "results": records}, f, indent=1)
        print(f"wrote {path}")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {[n for n, _ in failures]}")
        return 1
    print("all queries match their oracles")
    return 0


if __name__ == "__main__":
    sys.exit(main())

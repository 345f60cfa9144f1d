"""Seeded benchmark inputs.

Every table is a pure function of the seed, so two runs with the same
seed read the same inputs.  The validate workload reads the repository's
own page generator; the corpus workload reads a documents table shaped
like the repository's served one, with planted url, empty, exact-copy and
low-quality cases, plus the lineitem and events tables that its registry
queries read.  The expected ``jobs/corpus_prep.py`` output is computed
from the documents by a brute-force reference (:func:`expected_prep`).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per category partition of the crawl.  The golden verdicts are
# statistical and calibrated on the generator's own seed (sources.pages
# SEED): the weak-duplicate days put a ~3% duplicate rate, estimated with
# HyperLogLog++, inside (2%, 4%), and the HLL error alone is ~1% of the
# rate at any size.  So the pages come from the calibrated seed and the
# benchmark seed permutes their rows; the verdicts must not depend on
# row order.
PAGES_PER_CATEGORY = 3000

# documents: the shape of the repository's served documents table (the
# sf0.01/sf0.1 testdata that BENCH/SF1.md describes as ~94%
# template-near-duplicated): bags of 10-99 words drawn uniformly from a
# 30-word vocabulary, so long docs share most of it and near-duplicate
# clusters are dense.  Plus the planted cases the other stages act on.
N_SERVED_DOCS = 600
N_EXACT_COPIES = 20           # verbatim text copies of served docs
N_URL_VARIANTS = 20           # same url up to case/fragment/tracking params
N_EMPTY = 10                  # null or whitespace-only text
N_JUNK = 15                   # short and punctuation-heavy: quality < 0.5
N_REPEATED = 10               # one line repeated: dup-line fraction > 0.3
NEAR_DUP_THRESHOLD = 0.8      # jobs/corpus_prep.py's default

N_LINEITEM = 60_000
N_ORDERS = 15_000
N_EVENTS = 10_000

SERVED_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window").split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = np.array([0.44, 0.14, 0.13, 0.15, 0.14])
# functions/text_stats.py's stopword list
STOPWORDS = ("the of and a to in is it you that he was for on are as with "
             "his they").split()
SYLLABLES = ("ba be bi bo bu ka ke ki ko ku la le li lo lu ma me mi mo mu "
             "na ne ni no nu ra re ri ro ru sa se si so su ta te ti to tu "
             "va ve vi vo vu za ze zi zo zu").split()


def write_table(pdf: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                        preserve_index=False), path)


# ---------------------------------------------------------------------------
# pages (validate workloads)
# ---------------------------------------------------------------------------

def build_pages(spark, root: str, seed: int) -> dict:
    """Pages, the referential allow-list and the drift baseline from the
    repository's generators, each written in a seed-chosen row order.
    Returns the paths and the page count."""
    from pyspark.sql import functions as F

    from audio_quality_checker_spark.sources.pages import (
        SEED,
        baseline_snapshot_pdf,
        gen_pages_spark,
        ref_hosts_pdf,
    )

    paths = {k: f"{root}/{k}" for k in ("pages", "ref_hosts", "baseline")}
    pages = gen_pages_spark(spark, PAGES_PER_CATEGORY, seed=SEED)
    key = F.xxhash64(*pages.columns, F.lit(seed))
    pages.repartition(spark.sparkContext.defaultParallelism, key) \
        .sortWithinPartitions(key).write.mode("overwrite") \
        .parquet(paths["pages"])
    for name, pdf in (("ref_hosts", ref_hosts_pdf()),
                      ("baseline", baseline_snapshot_pdf(seed=SEED))):
        shuffled = pdf.sample(frac=1.0, random_state=seed % 2**32)
        spark.createDataFrame(shuffled).write.mode("overwrite").parquet(
            paths[name])
    n = spark.read.parquet(paths["pages"]).count()
    return {"paths": paths, "n_docs": n}


# ---------------------------------------------------------------------------
# documents (corpus workload)
# ---------------------------------------------------------------------------

def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(rng.choice(SYLLABLES, k)))
    return sorted(words)


def _prose(rng, vocab, n_tokens: int) -> list[str]:
    """Lower-case words, about one in five a stopword."""
    toks = list(rng.choice(vocab, n_tokens))
    for i in rng.choice(n_tokens, n_tokens // 5, replace=False):
        toks[i] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
    return toks


def _served_doc(rng) -> str:
    return " ".join(rng.choice(SERVED_VOCAB, int(rng.integers(10, 100))))


def build_documents(seed: int) -> tuple[pd.DataFrame, dict]:
    """The documents table and the counters and surviving doc ids
    ``jobs/corpus_prep.py`` must produce on it (see :func:`expected_prep`).
    The planted cases draw on a separate syllable vocabulary, so they are
    near-duplicates of nothing."""
    rng = np.random.default_rng([seed, 0xD0C5])
    other = _vocab(rng, 6000)
    texts: list[str | None] = [_served_doc(rng) for _ in range(N_SERVED_DOCS)]
    langs = list(rng.choice(LANGS, N_SERVED_DOCS, p=LANG_P))
    urls = [f"https://site{i % 97}.example.org/a/{i}/{seed}"
            for i in range(N_SERVED_DOCS)]
    kind = ["served"] * N_SERVED_DOCS
    same_url: list[tuple[int, int]] = []

    def add(text, lang, url, k):
        texts.append(text)
        langs.append(lang)
        urls.append(url)
        kind.append(k)

    owners = iter(rng.permutation(N_SERVED_DOCS))
    for _ in range(N_EXACT_COPIES):
        b = next(owners)
        add(texts[b], langs[b], f"https://copy.example.net/{len(urls)}",
            "served")
    for _ in range(N_URL_VARIANTS):
        b = next(owners)
        host = urls[b].split("/")[2]
        same_url.append((b, len(urls)))
        add(_served_doc(rng), str(rng.choice(LANGS, p=LANG_P)),
            urls[b].replace(host, host.upper())
            + "?utm_source=feed&utm_medium=rss#top", "served")
    for i in range(N_EMPTY):
        add(None if i % 2 else "   ", "en",
            f"https://empty.example.net/{len(urls)}", "empty")
    for _ in range(N_JUNK):
        add(" ".join(w + "!!" for w in rng.choice(other, 8)), "en",
            f"https://junk.example.net/{len(urls)}", "junk")
    for _ in range(N_REPEATED):
        line = " ".join(_prose(rng, other, 30))
        add("\n".join([line] * 3), "en",
            f"https://repeat.example.net/{len(urls)}", "repeated")

    n = len(texts)
    order = rng.permutation(n)       # doc ids carry no planted structure
    new_id = np.empty(n, dtype=np.int64)
    new_id[order] = np.arange(n)
    pdf = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": [texts[i] for i in order],
        "lang": [langs[i] for i in order],
        "source": [f"src{i % 20}" for i in range(n)],
        "url": [urls[i] for i in order],
    })
    pdf["n_chars"] = pdf["text"].map(lambda t: 0 if t is None else len(t))
    url_groups = [(int(new_id[a]), int(new_id[b])) for a, b in same_url]
    return pdf, expected_prep(pdf, url_groups)


def _union_find_min(n: int, edges) -> list[int]:
    """Each node's component root, the smallest node of its component."""
    parent = list(range(n))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [find(i) for i in range(n)]


def near_dup_edges(texts: list[str], langs: list[str],
                   threshold: float = NEAR_DUP_THRESHOLD):
    """Brute force over every pair of the near-dup stage's pair universe:
    same lang, length buckets floor(n_chars / 100) at most one apart,
    token-set jaccard >= threshold."""
    index: dict[str, int] = {}
    masks, blks = [], []
    for t in texts:
        m = 0
        for w in set(t.split()):
            m |= 1 << index.setdefault(w, len(index))
        masks.append(m)
        blks.append(len(t) // 100)
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            if langs[i] != langs[j] or abs(blks[i] - blks[j]) > 1:
                continue
            union = (masks[i] | masks[j]).bit_count()
            if union and (masks[i] & masks[j]).bit_count() / union \
                    >= threshold:
                yield i, j


def _passes_filters(text: str) -> bool:
    """The composite quality score (>= 0.5) and the Gopher dup-line
    fraction (<= 0.3) as functions/text_stats.py documents them."""
    toks = text.strip(" ").split()
    n_tok, n_chr = len(toks), len(text)
    punct = sum(not (c.isalnum() or c.isspace()) for c in text) / n_chr
    digit = sum(c.isdigit() for c in text) / n_chr
    padded = f" {text.lower()} "
    stop = sum(padded.count(f" {w} ") for w in STOPWORDS) / n_tok
    score = ((1 - (0.5 if n_tok < 20 else 0.2 if n_tok < 50 else 0.0))
             * (1 - (0.5 if punct > 0.3 else 0.2 if punct > 0.15 else 0.0))
             * (1 - (0.4 if digit > 0.3 else 0.0))
             * (1 - (0.2 if stop < 0.01 else 0.0)))
    lines = [ln.strip() for ln in text.strip(" ").split("\n") if ln.strip()]
    dup_line = 1.0 - len(set(lines)) / len(lines)
    return round(score, 6) >= 0.5 and round(dup_line, 6) <= 0.3


def expected_prep(pdf: pd.DataFrame, url_groups) -> dict:
    """A reference run of corpus_prep's default stages over ``pdf``: url
    collapse (the planted ``url_groups`` are the only shared canonical
    urls), usable text, exact dedup, near-dup keep-one over
    :func:`near_dup_edges`, then the quality and dup-line filters.  Every
    dedup stage keeps its group's smallest doc_id, as the job does.  On
    the repository's sf0.01 documents this gives the job's recorded
    counts (194 after near-dup dedup, 173 after the filters)."""
    ids = set(pdf["doc_id"])
    ids -= {max(g) for g in url_groups}
    n_url = len(ids)
    text = dict(zip(pdf["doc_id"], pdf["text"]))
    lang = dict(zip(pdf["doc_id"], pdf["lang"]))
    ids = sorted(i for i in ids if text[i] is not None and text[i].strip())
    n_usable = len(ids)
    first: dict[str, int] = {}
    for i in ids:
        first.setdefault(text[i], i)
    ids = sorted(first.values())
    n_exact = len(ids)
    roots = _union_find_min(len(ids), near_dup_edges(
        [text[i] for i in ids], [lang[i] for i in ids]))
    ids = [i for k, i in enumerate(ids) if roots[k] == k]
    n_near = len(ids)
    kept = [int(i) for i in ids if _passes_filters(text[i])]
    return {
        "counters": {
            "n_input": len(pdf),
            "n_after_url_dedup": n_url,
            "n_usable": n_usable,
            "n_after_line_dedup": n_usable,
            "n_boiler_lines_removed": 0,
            "n_after_exact_dedup": n_exact,
            "n_after_near_dedup": n_near,
            "n_after_filters": len(kept),
            "n_after_decontamination": len(kept),
            "n_docs_pii_masked": 0,
            "n_after_budget": len(kept),
        },
        "kept_ids": kept,
    }


DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("url", pa.string()), ("n_chars", pa.int64()),
])


# ---------------------------------------------------------------------------
# lineitem / events (registry queries of the corpus workload)
# ---------------------------------------------------------------------------

def build_lineitem(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 0x11E])
    n = N_LINEITEM
    orderkey = rng.integers(0, N_ORDERS, n)
    # (l_orderkey, l_linenumber) is unique, as the window queries'
    # total orders assume
    order = np.lexsort((rng.random(n), orderkey))
    orderkey = orderkey[order]
    first = np.r_[True, orderkey[1:] != orderkey[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n), 0))
    linenumber = (np.arange(n) - run_start + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    ship = (np.datetime64("1995-01-02")
            + rng.integers(0, 2500, n).astype("timedelta64[D]"))
    return pd.DataFrame({
        "l_orderkey": orderkey.astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": ship.astype("datetime64[us]"),
    })


LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])


def build_events(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 0xE7])
    n = N_EVENTS
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n).astype(np.int64),
        "event_type": rng.choice(
            np.array(["view", "click", "purchase", "signup", "error"]), n),
        "value": np.round(rng.exponential(20.0, n) + 0.01, 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)],
    })


EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


def build_corpus(root: str, seed: int) -> dict:
    """Write the corpus workload's tables as ``<root>/<table>.parquet``,
    the layout the registry queries read.  Returns the expected job
    counters and surviving doc ids, and the document count."""
    docs, expected = build_documents(seed)
    write_table(docs, f"{root}/documents.parquet", DOCUMENTS_SCHEMA)
    write_table(build_lineitem(seed), f"{root}/lineitem.parquet",
                LINEITEM_SCHEMA)
    write_table(build_events(seed), f"{root}/events.parquet", EVENTS_SCHEMA)
    return {"expected": expected, "n_docs": len(docs)}

"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. Sizes are fixed per workload (see README.md) so
that seeds change the content, not the amount of work.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_CONS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"


def _vocabulary(n: int) -> list[str]:
    """``n`` distinct pronounceable lowercase words (fixed, seed-free):
    the i-th word spells i in consonant-vowel syllables, so the list is
    the same for every seed and no word contains a digit."""
    words = []
    base = len(_CONS) * len(_VOWELS)
    for i in range(n):
        k, parts = i + base, []
        while k:
            k, r = divmod(k, base)
            parts.append(_CONS[r // len(_VOWELS)] + _VOWELS[r % len(_VOWELS)])
        words.append("".join(reversed(parts)))
    return words


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


# --------------------------------------------------------------------------
# tweets_nb_svm: Sentiment140-shaped CSV lines
# --------------------------------------------------------------------------

TWEET_VOCAB = 20_000        # word types; Zipf(1.1) draw over them
TWEET_POLAR_SHARE = 0.35    # share of a tweet's tokens drawn from its label's words
TWEET_POS_SHARE = 0.59      # positive labels (reference sample: 14,766 / 25,000)
TWEET_QUOTED_SHARE = 0.25   # quoted text with interior commas (sample: 6,170 / 25,000)
TWEET_MALFORMED_SHARE = 0.002  # lines with fewer than 4 comma fields


def tweet_lines(n: int, seed: int, id_base: int) -> tuple[list[str], dict]:
    """``n`` CSV lines ``id,label,Sentiment140,text`` with the reference
    input's quirks: quoted text holding interior commas (>4 comma fields),
    mentions, hashtags, URLs, digits and HTML entities, and a few
    truncated lines with fewer than 4 fields. Returns the lines and the
    planted shares."""
    rng = np.random.default_rng([seed, id_base])
    vocab = np.array(_vocabulary(TWEET_VOCAB), dtype=object)
    probs = _zipf_probs(TWEET_VOCAB, 1.1)
    # polarity of word i: a fixed hash of i, so both files agree
    pol = (np.arange(TWEET_VOCAB) * 2654435761 % 97) % 3  # 0 neutral, 1 pos, 2 neg
    pos_p = np.where(pol == 1, probs, 0.0)
    neg_p = np.where(pol == 2, probs, 0.0)
    pos_p, neg_p = pos_p / pos_p.sum(), neg_p / neg_p.sum()

    labels = (rng.random(n) < TWEET_POS_SHARE).astype(int)
    lengths = rng.integers(5, 21, size=n)
    total = int(lengths.sum())
    general = rng.choice(TWEET_VOCAB, size=total, p=probs)
    polar_pos = rng.choice(TWEET_VOCAB, size=total, p=pos_p)
    polar_neg = rng.choice(TWEET_VOCAB, size=total, p=neg_p)
    use_polar = rng.random(total) < TWEET_POLAR_SHARE
    tok_label = np.repeat(labels, lengths)
    polar = np.where(tok_label == 1, polar_pos, polar_neg)
    idx = np.where(use_polar, polar, general)
    words = vocab[idx]

    quoted = rng.random(n) < TWEET_QUOTED_SHARE
    malformed = rng.random(n) < TWEET_MALFORMED_SHARE
    extras = rng.random((n, 5))
    nums = rng.integers(0, 10_000, size=(n, 3))
    lines = []
    off = 0
    for i in range(n):
        toks = list(words[off:off + lengths[i]])
        off += lengths[i]
        tid = id_base + i
        if malformed[i]:
            lines.append(f"{tid},{labels[i]},Sentiment140")
            continue
        e = extras[i]
        if e[0] < 0.15:
            toks.insert(0, f"@user{nums[i, 0]}")
        if e[1] < 0.10:
            toks.append(f"http://t.co/{toks[-1]}{nums[i, 1]}")
        if e[2] < 0.05:
            toks.insert(len(toks) // 2, f"#{toks[0]}")
        if e[3] < 0.08:
            toks.insert(1, f"{nums[i, 2] % 100}{toks[0]}")
        if e[4] < 0.06:
            toks.append("&lt;3" if nums[i, 2] % 2 else "&quot;")
        text = " ".join(toks)
        if quoted[i]:
            cut = max(1, len(toks) // 2)
            text = '"' + " ".join(toks[:cut]) + ", " + " ".join(toks[cut:]) + '"'
        lines.append(f"{tid},{labels[i]},Sentiment140,{text}")
    shares = {"rows": n, "quoted_share": float(quoted.mean()),
              "malformed_share": float(malformed.mean()),
              "positive_share": float(labels.mean())}
    return lines, shares


def write_tweets(out_dir: str, seed: int, n_train: int, n_test: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, n, base in (("train", n_train, 1_000_000),
                          ("test", n_test, 9_000_000)):
        lines, shares = tweet_lines(n, seed, base)
        path = os.path.join(out_dir, f"{name}.csv")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        shares["bytes"] = os.path.getsize(path)
        info[name] = shares
    return info


# --------------------------------------------------------------------------
# corpus_curate_dedup: documents.parquet with planted duplicate clusters
# --------------------------------------------------------------------------

CORPUS_LANGS = ["en", "de", "fr", "es", "zh"]
CORPUS_LANG_P = [0.40, 0.20, 0.15, 0.15, 0.10]
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "for", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "nicht"],
    "zh": [],
}
CORPUS_VOCAB = 8_000
EXACT_DUP_SHARE = 0.04      # docs that are verbatim copies of another doc
NEAR_DUP_SHARE = 0.08       # docs that are one-word edits of another doc
REPETITIVE_SHARE = 0.03     # docs that loop one bigram
SHORT_SHARE = 0.01          # docs under 20 characters


def _edit(rng, toks: list[str], vocab: np.ndarray) -> list[str]:
    """One-word substitution: keeps ~93% of a 40+ token doc's 3-shingles."""
    out = list(toks)
    out[int(rng.integers(0, len(out)))] = str(vocab[int(rng.integers(0, len(vocab)))])
    return out


def corpus_table(n: int, seed: int) -> tuple[pa.Table, dict]:
    rng = np.random.default_rng([seed, 77])
    vocab = np.array(_vocabulary(CORPUS_VOCAB), dtype=object)
    probs = _zipf_probs(CORPUS_VOCAB, 1.05)
    n_exact = int(n * EXACT_DUP_SHARE)
    n_near = int(n * NEAR_DUP_SHARE)
    n_base = n - n_exact - n_near

    # exact counts per kind and language, so every seed plants the same
    # amount of each kind of work
    n_short, n_rep = round(n * SHORT_SHARE), round(n * REPETITIVE_SHARE)
    kinds = ["short"] * n_short + ["rep"] * n_rep + ["normal"] * (n_base - n_short - n_rep)
    lang_of = [lang for lang, p in zip(CORPUS_LANGS, CORPUS_LANG_P)
               for _ in range(round(n_base * p))]
    lang_of = (lang_of + ["en"] * n_base)[:n_base]
    rng.shuffle(kinds)
    rng.shuffle(lang_of)
    texts, langs, normal = [], [], []
    for kind, lang in zip(kinds, lang_of):
        if kind == "short":
            toks = list(vocab[rng.choice(CORPUS_VOCAB, size=2, p=probs)])
        elif kind == "rep":
            a, b = vocab[rng.choice(CORPUS_VOCAB, size=2, p=probs)]
            toks = [a, b] * int(rng.integers(15, 40))
        else:
            length = int(rng.integers(40, 120))
            toks = list(vocab[rng.choice(CORPUS_VOCAB, size=length, p=probs)])
            sw = _STOPWORDS[lang]
            if sw:
                for j in rng.choice(length, size=max(1, length // 8), replace=False):
                    toks[j] = sw[int(rng.integers(0, len(sw)))]
            normal.append(len(texts))
        texts.append(toks)
        langs.append(lang)

    # copies derive from ordinary docs (an edit of a looping bigram doc
    # changes most of its few distinct shingles), each from its own
    # source, so every planted cluster is one pair. Label propagation
    # then converges in one round on every seed: a cluster of three or
    # more whose min-id doc misses an edge (16 MinHash permutations miss
    # edits at random) would cost a seed one more round, 7 more jobs in
    # each of curation and dedup.
    planted = {"exact": [], "near": []}
    sources = rng.choice(normal, size=n_exact + n_near, replace=False)
    for k, src in enumerate(int(x) for x in sources):
        kind = "exact" if k < n_exact else "near"
        planted[kind].append((src, len(texts)))
        texts.append(list(texts[src]) if kind == "exact" else _edit(rng, texts[src], vocab))
        langs.append(langs[src])

    # shuffle positions so copies do not sit next to their sources and
    # the min-id keeper is not always the original
    doc_id = rng.permutation(n).astype(np.int64)
    joined = [" ".join(t) for t in texts]
    order = np.argsort(doc_id)
    table = pa.table({
        "doc_id": pa.array(doc_id[order], pa.int64()),
        "text": pa.array([joined[i] for i in order], pa.string()),
        "lang": pa.array([langs[i] for i in order], pa.string()),
        "source": pa.array([f"src{int(d) % 5}" for d in doc_id[order]], pa.string()),
        "n_chars": pa.array([len(joined[i]) for i in order], pa.int64()),
    })
    pairs = {k: [(int(doc_id[a]), int(doc_id[b])) for a, b in v]
             for k, v in planted.items()}
    info = {"docs": n, "exact_dup_docs": n_exact, "near_dup_docs": n_near}
    return table, {"info": info, "planted": pairs}


def write_corpus(out_dir: str, seed: int, n: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    table, meta = corpus_table(n, seed)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    meta["info"]["bytes"] = os.path.getsize(path)
    return meta


# --------------------------------------------------------------------------
# query_mix: TPC-H-shaped star schema (the registry's table layout)
# --------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "screw"]


def _days(rng, lo: dt.date, hi: dt.date, size: int) -> pa.Array:
    span = (hi - lo).days
    d = rng.integers(0, span + 1, size=size)
    base = np.datetime64(lo.isoformat(), "us")
    return pa.array(base + d.astype("timedelta64[D]").astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=size), 2)


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1992])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 900.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li)})
    return t


def write_tpch(out_dir: str, seed: int, sf: float) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, table in tpch_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        info[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return info

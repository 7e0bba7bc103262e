"""Seeded corpus generators for the benchmark's generated workloads.

Writes a `documents` table with the fixture's schema (doc_id int64, text
string, lang string, source string, n_chars int64) as parquet, in several
files, so the engine reads it with as many input partitions as cores. The
same seed always writes the same documents.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# name -> generator parameters (also listed in perfbench/README.md).
WORKLOADS = {
    # Regex-heavy: noisy tweets over a Zipf vocabulary of 1e4 terms.
    "tweets_noisy": dict(docs=20000, min_tokens=12, max_tokens=40, vocab=10**4, hot_frac=0.0, noisy=True),
    # Aggregate/join-heavy: clean tokens drawn log-uniformly from 1e6 ranks,
    # one hot term in 25% of token slots.
    "vocab_zipf": dict(docs=20000, min_tokens=20, max_tokens=60, vocab=10**6, hot_frac=0.25, noisy=False),
}

# The most frequent ranks are real words, so the keyword filter and the top-k
# charts see domain terms; other ranks are synthetic words. None is an NLTK
# stopword and all are longer than two letters.
HEAD_WORDS = ["spark", "data", "stream", "query", "love", "today", "join", "window", "vector",
              "hash", "merge", "shuffle", "great", "cluster", "people", "night", "music", "game",
              "happy", "team", "news", "world", "time", "new", "good", "day", "best", "video",
              "watch", "free", "life", "work", "home", "week", "thanks", "follow", "live", "big",
              "fun", "party"]
# Common tweet stopwords, all in the NLTK list the engine filters.
STOP = ["the", "to", "and", "a", "i", "you", "of", "is", "in", "it", "for", "my", "on", "that",
        "me", "this", "be", "so", "with", "at", "are", "just", "your", "have", "not", "was", "but",
        "we", "all", "what"]
DECORATED = ["café", "naïve", "über", "señor", "😀", "🔥", "déjà", "jalapeño", "façade", "🚀spark",
             "C'EST", "l'été", "x²", "—"]
PUNCT = ["!", "?", ".", ",", "...", ":)", "!!"]
HOT_TERM = "tweet"
LANGS = ["en"] * 5 + ["fr", "es", "zh", "de", "es"]
ALPHABET = "abcdefghijklmnopqrstuvwxyz"
PREFIXES = ["qu", "zy", "xo", "ka", "vy", "jo"]


def word(rank):
    if rank <= len(HEAD_WORDS):
        return HEAD_WORDS[rank - 1]
    s, r = [], rank
    while r:
        r, d = divmod(r, 26)
        s.append(ALPHABET[d])
    return PREFIXES[rank % 6] + "".join(reversed(s))


def zipf_ranks(rng, n, vocab):
    """Log-uniform ranks in [1, vocab]: Zipf with exponent 1."""
    return np.minimum(np.floor((vocab + 1.0) ** rng.random(n)).astype(np.int64), vocab)


def noisy_tokens(rng, n, vocab):
    """Tweet tokens: 30% stopwords, URLs, mentions, hashtags, numbers,
    accented words and emoji, and Zipf words that may be upper-cased,
    capitalised or punctuated."""
    k = rng.integers(0, 10000, n)
    h = rng.integers(0, 10**6, n)
    ranks = zipf_ranks(rng, n, vocab)
    words = {r: word(r) for r in np.unique(ranks).tolist()}
    out = []
    for kk, hh, r in zip(k.tolist(), h.tolist(), ranks.tolist()):
        w = words[r]
        if kk < 3000:
            t = STOP[hh % len(STOP)]
        elif kk < 3200:
            t = f"http://t.co/{np.base_repr(hh, 36).lower()}"
        elif kk < 3350:
            t = f"https://bit.ly/{np.base_repr(hh, 36)}?s={hh % 97}"
        elif kk < 3450:
            t = f"www.site{hh % 500}.com/{w}"
        elif kk < 3850:
            t = f"@user{hh % 5000}" + (":" if hh % 4 == 0 else "")
        elif kk < 4250:
            t = "#" + w
        elif kk < 4550:
            t = str(hh % 100000)
        elif kk < 4900:
            t = DECORATED[hh % len(DECORATED)]
        elif kk < 5600:
            t = w.upper()
        elif kk < 6300:
            t = w.capitalize()
        elif kk < 7000:
            t = w + PUNCT[hh % len(PUNCT)]
        else:
            t = w
        out.append("\n" + t if hh % 33 == 0 else t)
    return out


def clean_tokens(rng, n, vocab, hot_frac):
    ranks = zipf_ranks(rng, n, vocab)
    hot = rng.random(n) < hot_frac
    words = {r: word(r) for r in np.unique(ranks).tolist()}
    return [HOT_TERM if ht else words[r] for ht, r in zip(hot.tolist(), ranks.tolist())]


def texts(rng, p):
    n_docs = p["docs"]
    lens = rng.integers(p["min_tokens"], p["max_tokens"] + 1, n_docs)
    total = int(lens.sum())
    toks = (noisy_tokens(rng, total, p["vocab"]) if p["noisy"]
            else clean_tokens(rng, total, p["vocab"], p["hot_frac"]))
    ends = np.cumsum(lens).tolist()
    starts = [0] + ends[:-1]
    bodies = [" ".join(toks[s:e]) for s, e in zip(starts, ends)]
    if not p["noisy"]:
        return bodies
    # Tweets: 1% edge-case docs (null, empty, URL-only, stopword-only) and
    # 15% exact retweet copies of another doc's text.
    d = rng.integers(0, 10000, n_docs).tolist()
    src = rng.integers(0, n_docs, n_docs).tolist()
    out = []
    for i, (dd, s) in enumerate(zip(d, src)):
        if dd < 25:
            out.append(None)
        elif dd < 50:
            out.append("")
        elif dd < 75:
            out.append(f"http://t.co/{np.base_repr(i, 36).lower()} www.example.com")
        elif dd < 100:
            out.append("the and to of it is so at")
        elif dd < 1600:
            out.append(bodies[s])
        else:
            out.append(bodies[i])
    return out


def write(name, seed, path, files):
    """Writes workload `name`'s corpus for `seed` at directory `path`."""
    p = WORKLOADS[name]
    rng = np.random.default_rng(seed)
    text = texts(rng, p)
    n = len(text)
    lang = [LANGS[i] for i in rng.integers(0, len(LANGS), n).tolist()]
    source = [f"src{i}" for i in rng.integers(0, 20, n).tolist()]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([None if t is None else len(t) for t in text], pa.int64()),
    })
    os.makedirs(path, exist_ok=True)
    step = -(-n // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f:05d}.parquet"))

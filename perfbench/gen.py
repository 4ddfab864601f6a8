"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the workload
seed, so the same seed writes byte-identical files. The corpus and table
generators are the repository's own (``tools/gen_scaledata.py``); only the
review corpus of the paper's pipeline is generated here.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq

from tools.gen_scaledata import gen_documents_zipf, gen_events, gen_tpch

# Closed dictionary of the pipeline (the reference's adj.txt): 200
# lowercase adjectives, disjoint from STOPWORDS.
ADJECTIVES = sorted(set("""
able absent active actual afraid aged alert alive amazing ancient angry
anxious awful awkward bad basic beautiful big bitter bland blank bold
boring brave brief bright brilliant broad broken brown busy calm capable
careful casual cheap cheerful chief clean clear clever close cold common
complex confident constant cool correct crazy creative critical crude
cruel curious cute damp dark dead dear decent deep delicate dense
direct dirty distant divine dry dull eager early easy elegant empty
endless entire equal even evil exact excellent exotic expensive extra
faint fair faithful false famous fancy fast fat fierce final fine firm
flat fluffy foolish formal fragile free fresh friendly full funny gentle
genuine giant glad global golden good grand grateful great green gross
guilty handsome happy hard harsh healthy heavy helpful hidden high
hollow honest hot huge humble hungry ideal idle illegal immense
important innocent intense jolly junior keen kind large late lazy legal
light likely little live lonely long loose loud lovely loyal lucky mad
major massive mature mean mild minor modern modest narrow nasty natural
neat nervous new nice noble noisy normal novel odd old open original
pale perfect plain pleasant polite poor popular precious pretty proud
pure quick quiet rapid rare raw real rich right rough round rude sad
safe scary secret sharp short shy silent silly simple slow small smart
smooth soft solid sour spicy stale steep sticky stiff strange strict
strong stupid sudden sweet tall tender thick thin tiny tough ugly
unique upset useful vague vast violent warm weak weird wet whole wide
wild wise witty wrong young
""".split()))[:200]

STOPWORDS = sorted(set("""
a about above after again against all am an and any are as at be because
been before being below between both but by can did do does doing down
during each few for from further had has have having he her here hers him
his how i if in into is it its itself just me more most my no nor not now
of off on once only or other our out over own same she should so some such
than that the their them then there these they this those through to too
under until up very was we were what when where which while who whom why
will with you your
""".split()))

# Non-dictionary words: nouns and verbs, plus unicode words that share no
# two-letter ASCII run with a dictionary word.
FILLER = (
    "book story author chapter plot page reader series character ending "
    "writing cover edition read bought finished recommend gift copy shelf "
    "library review volume sequel prose twist hero villain world tale ça über 日本 "
    "año"
).split()

REQUIRED = ("reviewerID", "asin", "reviewerName", "reviewText")


def gen_reviews(n: int, rng: np.random.Generator) -> list[str]:
    """``n`` Amazon-style JSON-lines reviews (FIXTURES.md F1).

    Several reviews share each asin; words come from the dictionary, the
    stopwords and filler with a Zipf-like skew, so document frequencies
    span 1..N. About 2% of rows lack a required field and about 0.5% are
    legacy ``review/text`` lines; every 97th review has no adjective."""
    n_asin = max(n // 5, 1)
    adj_p = 1.0 / np.arange(1, len(ADJECTIVES) + 1) ** 0.9
    adj_p /= adj_p.sum()
    lines: list[str] = []
    for i in range(n):
        if rng.random() < 0.005:
            lines.append(f"review/text: legacy line {i} good plot")
            continue
        n_words = int(rng.integers(5, 60))
        kind = rng.integers(0, 3, size=n_words)
        adj = rng.choice(len(ADJECTIVES), size=n_words, p=adj_p)
        stop = rng.integers(0, len(STOPWORDS), size=n_words)
        fill = rng.integers(0, len(FILLER), size=n_words)
        words = []
        for j in range(n_words):
            if kind[j] == 0 and i % 97 != 0:
                w = ADJECTIVES[adj[j]]
                words.append(w.capitalize() if j == 0 else w)
            elif kind[j] == 1:
                words.append(STOPWORDS[stop[j]])
            else:
                words.append(FILLER[fill[j]])
        text = " ".join(words) + rng.choice([".", "!", "...", " :)"])
        rec = {
            "reviewerID": f"R{int(rng.integers(0, n)):07d}",
            "asin": f"B{int(rng.integers(0, n_asin)):09d}",
            "reviewerName": f"reader {int(rng.integers(0, 1000))}",
            "reviewText": text,
            "overall": float(rng.integers(1, 6)),
            "unixReviewTime": int(1_300_000_000 + rng.integers(0, 10**8)),
        }
        if rng.random() < 0.02:
            del rec[REQUIRED[int(rng.integers(0, len(REQUIRED)))]]
        lines.append(json.dumps(rec, ensure_ascii=False))
    return lines


def write_reviews(n: int, seed: int, out: str) -> dict[str, str]:
    """Write the review corpus and its two word lists under ``out``."""
    os.makedirs(out, exist_ok=True)
    paths = {
        "reviews": os.path.join(out, "reviews.json"),
        "adjectives": os.path.join(out, "adj.txt"),
        "stopwords": os.path.join(out, "stopwords_en.txt"),
    }
    lines = gen_reviews(n, np.random.default_rng(seed))
    with open(paths["reviews"], "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    for key, words in (("adjectives", ADJECTIVES), ("stopwords", STOPWORDS)):
        with open(paths[key], "w") as f:
            f.write("\n".join(words) + "\n")
    return paths


def write_documents(n: int, seed: int, out: str) -> str:
    """Zipf long-tail corpus with ~5% planted near-copies (documents.parquet)."""
    os.makedirs(out, exist_ok=True)
    pq.write_table(
        gen_documents_zipf(n, np.random.default_rng(seed)),
        os.path.join(out, "documents.parquet"),
    )
    return out


def write_tables(sf: float, seed: int, out: str) -> str:
    """TPC-H-like tables plus ``events`` at scale factor ``sf``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    gen_tpch(sf, rng, out)
    pq.write_table(gen_events(int(1_000_000 * sf), rng), os.path.join(out, "events.parquet"))
    return out

"""Seeded benchmark inputs: web pages in the engine's pages schema, and
query logs.

This module imports nothing from the engine, so no engine change can
change a workload.  The same seed gives the same bytes.

Pages follow the engine's input schema
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``
and the corpus model of the engine's own synthetic generator
(``sources/synth.py``), with its parameters copied here: a search-results
page of 8-12 ``<ol><li>`` results (link, optional date, a 40-100-word body)
plus a navigation list and a footer (about 6.3 KB of html); words drawn
Zipf(1.2) folded onto a 10k-word vocabulary; every 50th page ``lang = "xx"``
over its own 500-word vocabulary (not indexed); one whole reference query
in every 37th page, and each reference term 1-3 times in 3% of pages, so
every reference query matches in both modes.  Unlike synth.py, ``text``
holds what the engine's extractor returns for the html (one line per
result with at least two of link, date, body), and the randomness comes
from one seed per call, not per page.

Query logs draw their terms from the same word distribution as the pages,
and their lengths from the length mix of the reference queries (1-3 terms).
No query-log study backs either choice; they are assumptions.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Literal copies of the engine's reference query strings, so the engine
# cannot change them under the benchmark.
REFERENCE_QUERIES = (
    "Starbucks Coffee",
    "Coffee Bean",
    "Gout",
    "Mala",
    "Chicken Rice",
    "SpaceX News",
    "tesla earning reports",
    "Starbucks",
    "bananas",
)
REFERENCE_TERMS = sorted({w for q in REFERENCE_QUERIES for w in q.lower().split()})

# corpus parameters of sources/synth.py
VOCAB_SIZE = 10_000
VOCAB = np.array([f"w{k:04d}" for k in range(VOCAB_SIZE)], dtype=object)
XX_VOCAB = np.array([f"x{k:03d}" for k in range(500)], dtype=object)
ZIPF_S = 1.2
RESULTS = (8, 12)  # results per page
BODY_WORDS = (40, 100)  # words per result body
# P(1..3 terms) of a drawn query: the reference queries' length mix
QUERY_LEN_MIX = tuple(
    np.bincount([len(q.split()) for q in REFERENCE_QUERIES])[1:] / len(REFERENCE_QUERIES))

_MONTHS = ("Jan", "February", "Mar", "April", "May", "June",
           "Jul", "August", "Sep", "October", "Nov", "December")
_EPOCH = dt.datetime(2024, 9, 21)

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def zipf_ranks(rng: np.random.Generator, n: int) -> np.ndarray:
    """n Zipf(ZIPF_S) word ranks folded onto the vocabulary, as synth.py draws."""
    return (rng.zipf(ZIPF_S, n) - 1) % VOCAB_SIZE


def make_pages(seed: int, n_docs: int, start: int = 0, prefix: str = "bench",
               inject: str | None = None) -> pa.Table:
    """n_docs pages with ids start .. start + n_docs - 1, url-sorted.
    inject: a word added to every en page."""
    rng = np.random.default_rng([seed, start, n_docs])
    n_res = rng.integers(RESULTS[0], RESULTS[1] + 1, n_docs)
    tot_res = int(n_res.sum())
    n_body = rng.integers(BODY_WORDS[0], BODY_WORDS[1] + 1, tot_res)
    n_title = rng.integers(3, 7, tot_res)
    kind = rng.random(tot_res)
    site = rng.integers(0, 500, tot_res)
    month = rng.integers(0, 12, tot_res)
    day = rng.integers(1, 29, tot_res)
    year = rng.integers(2020, 2025, tot_res)
    n_nav = rng.integers(8, 15, n_docs)
    n_foot = rng.integers(60, 121, n_docs)
    per_res = n_body + n_title + 2
    ranks = zipf_ranks(rng, int(per_res.sum() + n_nav.sum() + n_foot.sum()))
    ref_hit = rng.random((n_docs, len(REFERENCE_TERMS))) < 0.03
    ref_reps = rng.integers(1, 4, (n_docs, len(REFERENCE_TERMS)))

    urls, htmls, texts, langs = [], [], [], []
    pos = 0
    r0 = 0
    for d in range(n_docs):
        i = start + d
        lang = "xx" if i % 50 == 49 else "en"
        r1 = r0 + int(n_res[d])
        n_words = int(per_res[r0:r1].sum() + n_nav[d] + n_foot[d])
        voc = VOCAB if lang == "en" else XX_VOCAB
        words = voc[ranks[pos:pos + n_words] % len(voc)]
        pos += n_words
        words_in: list[str] = []
        if lang == "en":
            if i % 37 < len(REFERENCE_QUERIES):
                words_in += REFERENCE_QUERIES[i % 37].lower().split()
            for t, h, k in zip(REFERENCE_TERMS, ref_hit[d], ref_reps[d]):
                if h:
                    words_in += [t] * int(k)
            if inject:
                words_in.append(inject)
        lis, lines = [], []
        w = 0
        for r in range(r0, r1):
            nb, nt = int(n_body[r]), int(n_title[r])
            body = list(words[w:w + nb])
            title = " ".join(words[w + nb:w + nb + nt])
            crumbs = " › ".join(words[w + nb + nt:w + nb + nt + 2])
            w += nb + nt + 2
            if r == r0 and words_in:
                for j, t in enumerate(words_in):
                    body.insert((7 * j) % (len(body) + 1), t)
            para = f"{title} {' '.join(body)}"
            link = f"site{site[r]}.example.com › {crumbs}"
            date = f"{_MONTHS[month[r]]} {day[r]}, {year[r]}"
            if kind[r] < 0.7:
                lis.append(f"  <li>\n    <h3><a>{link}</a></h3>\n"
                           f"    <span>{date}</span>\n    <p>{para}</p>\n  </li>")
                lines.append(f"{link} {date} {para}")
            elif kind[r] < 0.9:
                lis.append(f"  <li>\n    <h3><a>{link}</a></h3>\n"
                           f"    <p>{para}</p>\n  </li>")
                lines.append(f"{link} {para}")
            else:  # body only: one field, not a search result
                lis.append(f"  <li>\n    <p>{' '.join(body)}</p>\n  </li>")
        r0 = r1
        nav = "\n".join(f"    <li><a>{x}</a></li>" for x in words[w:w + n_nav[d]])
        foot = words[w + n_nav[d]:]
        half = len(foot) // 2
        html = (
            "<html><head><title>search results</title></head><body>\n"
            f"<div id=\"nav\">\n  <ul>\n{nav}\n  </ul>\n</div>\n"
            "<div><h1>results</h1>\n<ol>\n" + "\n".join(lis) + "\n</ol>\n</div>\n"
            f"<div id=\"footer\">\n  <p>{' '.join(foot[:half])}</p>\n"
            f"  <p>{' '.join(foot[half:])}</p>\n</div>\n</body></html>"
        )
        urls.append(f"https://{prefix}.example/{lang}/{i:08d}")
        htmls.append(html.encode())
        texts.append("\n".join(lines))
        langs.append(lang)
    ts = [_EPOCH + dt.timedelta(seconds=start + d) for d in range(n_docs)]
    return pa.table([urls, ts, htmls, texts, langs], schema=PAGES_SCHEMA)


def write_pages(table: pa.Table, path: str, n_files: int) -> None:
    """Write url-sorted pages as n_files contiguous, url-disjoint files —
    the layout the engine's url_ordered build declares."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for f in range(n_files):
        lo, hi = n * f // n_files, n * (f + 1) // n_files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{f:05d}.parquet"))


def query_log(seed: int, n: int) -> list[str]:
    """n drawn queries: lengths by QUERY_LEN_MIX, terms drawn like page
    words.  The reference queries are not in the log; workloads add them."""
    rng = np.random.default_rng([seed, n, 7])
    lens = rng.choice(len(QUERY_LEN_MIX), n, p=QUERY_LEN_MIX) + 1
    terms = VOCAB[zipf_ranks(rng, int(lens.sum()))]
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(terms[pos:pos + ln]))
        pos += int(ln)
    return out


def log_properties(queries: list[str]) -> dict:
    """Distinct terms and query-length mix of a query log."""
    toks = [q.lower().split() for q in queries]
    mix = np.bincount([len(t) for t in toks])[1:]
    return {
        "queries": len(queries),
        "distinct_terms": len({w for t in toks for w in t}),
        "len_mix": [round(float(x) / max(1, len(queries)), 3) for x in mix],
        "zipf_s": ZIPF_S,
    }

"""Single source of truth for engine-wide constants and scoring math.

Both the optimized engine path (compressed postings + batch scorer) and the
exhaustive oracle path (plain DataFrame scoring) import THIS module, so any
drift between them is impossible by construction.  The DuckDB oracle SQL in
``__spark_entry__.py`` mirrors these definitions textually; tests assert the
three-way agreement.

BM25 parameters k1=1.2, b=0.75 are fixed by BASELINE.json (north_star).
IDF is the standard Robertson/Sparck-Jones "plus one" form used by Lucene:
    idf(t) = ln( (N - df + 0.5) / (df + 0.5) + 1 )
which is always positive (no negative-idf clamping needed).

Tie-break contract for top-k: score DESC, doc_id ASC.  Both paths sort this
way and the scorer property tests rely on it.
"""

from __future__ import annotations

import math
import re

# --- tokenizer ---------------------------------------------------------------
# Lowercase, then take maximal runs of [a-z0-9].  Deterministic, locale-free,
# identical to the DuckDB oracle expression:
#   unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
TOKEN_RE = re.compile(r"[a-z0-9]+")


def tokenize(text: str) -> list[str]:
    """Tokenize one document or query string. The ONLY tokenizer in the repo."""
    if not text:
        return []
    return TOKEN_RE.findall(text.lower())


# --- BM25 ---------------------------------------------------------------------
K1: float = 1.2
B: float = 0.75
TOP_K_DEFAULT: int = 10


def idf(n_docs: int, df: int) -> float:
    """Robertson idf, ln((N - df + 0.5) / (df + 0.5) + 1). Always > 0."""
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def bm25_term_score(tf: int, doc_len: int, avgdl: float, term_idf: float) -> float:
    """Per-(term, doc) BM25 contribution; summed over query terms."""
    denom = tf + K1 * (1.0 - B + B * doc_len / avgdl)
    return term_idf * tf * (K1 + 1.0) / denom


def bm25_upper_bound(max_tf: int, term_idf: float) -> float:
    """Upper bound of a term's contribution over any doc in a block.

    tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) is increasing in tf and decreasing
    in dl; dl >= 1 ... but the bound must hold for every dl, and the factor
    (1-b+b*dl/avgdl) >= (1-b) when dl >= 0, so using the limit dl -> 0 gives
    a safe (conservative) bound:  idf * max_tf*(k1+1) / (max_tf + k1*(1-b)).
    """
    return term_idf * max_tf * (K1 + 1.0) / (max_tf + K1 * (1.0 - B))


# --- postings layout -----------------------------------------------------------
BLOCK_SIZE: int = 128  # docs per compressed posting block
INDEX_FORMAT_VERSION = 6  # bump when the on-disk index schema changes

# Skew handling (north_rule "term-frequency salting of head terms"): the
# build shuffles on (term, shard) where shard = doc_id * n_shards // n_docs —
# i.e. EVERY term is salted by contiguous doc-id range.  This strictly
# subsumes df-threshold head-term salting: the hottest term's reducer work is
# bounded by df / n_shards without ever computing df first (one less pass),
# shards concatenate back in doc_id order for free (ranges are disjoint and
# ordered), and the result doubles as a document-sharded serving layout.
# See operators/index_build.py for the full argument.

# --- query modes ----------------------------------------------------------------
MODE_CONJUNCTIVE = "conjunctive"  # doc must contain ALL query terms
MODE_DISJUNCTIVE = "disjunctive"  # doc may match ANY query term

# --- reference query set (SURVEY.md Appendix B; harvested verbatim) -------------
REFERENCE_QUERIES: dict[str, str] = {
    "q1": "Starbucks Coffee",        # README.md:161
    "q2": "Coffee Bean",             # README.md:211
    "q3": "Gout",                    # README.md:219
    "q4": "Mala",                    # README.md:219
    "q5": "Chicken Rice",            # README.md:220,231
    "q6": "SpaceX News",             # client/streamlit_app.py:58
    "q7": "tesla earning reports",   # src/utils/extract_text_utils.py:133
    "q8": "Starbucks",               # integration_tests/.../test_consumers.py:42-44
    "q9": "bananas",                 # src/services/yahoo_search_service.py:12
}

"""BM25 scoring as native double arithmetic.

Exact semantics of the reference (``app/query.py:60,74-79``; SURVEY.md
section 4 BM25 box):

    idf(t)   = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    tf_norm  = tf*(k1+1) / (tf + k1*(1 - b + b*(dl/avg_dl)))
    score    = idf * tf_norm          (k1 = 1.2, b = 0.75)

The reference computes this in a per-row Python lambda over an RDD
(``query.py:65-83``); here it is one Spark SQL expression, so it stays
inside whole-stage codegen -- no Python boundary in the hot path. The
expression is built as TEXT for the caller to parse once (``F.expr``):
composing the same tree from Column objects costs py4j roundtrips per
operator and literal, which on a warm search outweighs the scoring. Every
constant is an explicit DOUBLE literal (``D`` suffix) and every operand
is cast to DOUBLE, so the arithmetic is IEEE double throughout -- a bare
``0.5`` would parse as DECIMAL.

Guards the reference lacks: ``avg_dl == 0`` (empty corpus) would divide by
zero in ``query.py:78``; we defend with a nullif -> coalesce to 0 score.
"""

from __future__ import annotations

K1 = 1.2
B = 0.75


def double_literal(x: float) -> str:
    """A Spark SQL DOUBLE literal that parses back to exactly *x*."""
    return f"{x!r}D"


def idf(n_docs: str, doc_freq: str) -> str:
    """Natural-log BM25 idf over SQL operands; matches Python ``math.log`` (F5)."""
    df = f"CAST({doc_freq} AS DOUBLE)"
    return f"ln(1.0D + (CAST({n_docs} AS DOUBLE) - {df} + 0.5D) / ({df} + 0.5D))"


def tf_norm(tf: str, dl: str, avg_dl: str, k1: float = K1, b: float = B) -> str:
    tfd = f"CAST({tf} AS DOUBLE)"
    avg = f"nullif(CAST({avg_dl} AS DOUBLE), 0.0D)"
    length = f"CAST({dl} AS DOUBLE) * {double_literal(b)} / {avg}"
    denom = f"{tfd} + ({length} + {double_literal(1.0 - b)}) * {double_literal(k1)}"
    return f"coalesce({tfd} * {double_literal(k1 + 1.0)} / ({denom}), 0.0D)"


def score(tf: str, dl: str, avg_dl: str, n_docs: str, doc_freq: str) -> str:
    """The BM25 partial of one (term, doc) posting as a Spark SQL
    expression. Each operand is SQL text: a column name, or a literal
    such as a persisted index's corpus stats."""
    return f"{idf(n_docs, doc_freq)} * {tf_norm(tf, dl, avg_dl)}"


# DuckDB twin of score(); {tf} {dl} {avg_dl} {n} {df} are SQL expressions.
# The coalesce mirrors tf_norm's avg_dl==0 guard -- without it Spark
# emits 0.0 scores on an empty-corpus stats row while the SQL twin
# propagates NULL (divergent engines where the module claims one guard).
SQL_SCORE = (
    "ln(1.0 + ({n} - {df} + 0.5) / ({df} + 0.5))"
    " * coalesce({tf} * (1.2 + 1.0)"
    "    / ({tf} + 1.2 * (1.0 - 0.75 + 0.75 * {dl} / nullif({avg_dl}, 0.0))), 0.0)"
)

"""Text column functions (tokenization, shingles) shared by the BM25 /
dedup / text-analysis operators. Tokenization semantics are fixed and
deliberately minimal — split on single spaces after trim, drop empty —
so the DuckDB oracle (string_split + list_filter) is exactly
equivalent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import Window as W


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), " "), lambda t: t != "")


# The DuckDB twin of tokens(col("text")), spliced into oracle SQL.
TOK_SQL = "list_filter(string_split(trim(text), ' '), t -> t <> '')"


def exploded_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, token) long form."""
    return df.select(
        id_col, F.posexplode(tokens(text_col)).alias("pos", "token"))


def word_shingles(df: DataFrame, id_col: str, text_col: str,
                  n: int = 3) -> DataFrame:
    """(id, shingle) word n-grams via window lead — a set-based shingle
    builder that is shuffle-partitioned by document id (uniform), so it
    scales linearly with corpus size."""
    tok = exploded_tokens(df, id_col, text_col)
    w = W.partitionBy(id_col).orderBy("pos")
    parts = [F.col("token")] + [F.lead("token", i).over(w) for i in range(1, n)]
    sh = tok.select(id_col, F.concat_ws(" ", *parts).alias("shingle"),
                    parts[-1].alias("_last"))
    return sh.where(F.col("_last").isNotNull()).drop("_last")


def ngram_array(text_col: Column | str, n: int) -> Column:
    """Distinct word n-grams as an array, built map-side with
    slice+zip — no explode, and no sequence(1, 0) descending-range
    pitfall (a slice of length 0 is just empty)."""
    toks = tokens(text_col)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, m) for i in range(n)])
    return F.array_distinct(
        F.transform(zipped, lambda s: F.concat_ws(
            " ", *[s.getField(str(i)) for i in range(n)])))


# ------------------------------------------------------ analyzer chain
#
# ES-style analysis pipeline (reference docs/.guide.md: every ES
# `match` query analyzes the text before BM25; Weaviate/Qdrant
# full-text indexes likewise): lowercase -> stopword removal ->
# suffix-stripping stemmer (a deterministic Porter-class cascade) ->
# synonym canonicalization. Every rule is a CLOSED-FORM scalar
# expression shared CHARACTER-IDENTICALLY between Spark SQL and DuckDB
# (same CASE/LIKE/substring/length semantics), so the oracle
# discipline that fixed-whitespace tokenization bought is preserved:
# both engines run the exact same analyzer, and `analyze_py` is the
# pure-Python twin used for query-side analysis and parity tests.
# No lookaheads/regex (Java regex vs RE2 diverge) — LIKE + substring
# only.

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "on",
             "is", "it", "for")

# synonym keys/values are POST-STEM forms (the map runs last)
SYNONYMS = (("quick", "fast"), ("rapid", "fast"), ("larg", "big"))


def _stem_steps(v: str) -> list[str]:
    """The three stemmer passes as engine-neutral CASE expressions
    over a token variable `v` — each pass applies at most one rule,
    mirroring analyze_py exactly:
      1. plurals: sses->ss; ies->y (len>4); trailing s (not ss/us,
         len>3)
      2. participles: -ing (len>5); -ed (len>4)
      3. final-e drop (len>4) — so merge/merges/merging/merged all
         land on the same stem 'merg'."""
    L = f"length({v})"
    s1 = (f"CASE WHEN {v} LIKE '%sses' THEN substring({v}, 1, {L} - 2) "
          f"WHEN {v} LIKE '%ies' AND {L} > 4 "
          f"THEN substring({v}, 1, {L} - 3) || 'y' "
          f"WHEN {v} LIKE '%s' AND {v} NOT LIKE '%ss' "
          f"AND {v} NOT LIKE '%us' AND {L} > 3 "
          f"THEN substring({v}, 1, {L} - 1) ELSE {v} END")
    s2 = (f"CASE WHEN {v} LIKE '%ing' AND {L} > 5 "
          f"THEN substring({v}, 1, {L} - 3) "
          f"WHEN {v} LIKE '%ed' AND {L} > 4 "
          f"THEN substring({v}, 1, {L} - 2) ELSE {v} END")
    s3 = (f"CASE WHEN {v} LIKE '%e' AND {L} > 4 "
          f"THEN substring({v}, 1, {L} - 1) ELSE {v} END")
    return [s1, s2, s3]


def _syn_case(v: str) -> str:
    whens = " ".join(f"WHEN {v} = '{a}' THEN '{b}'" for a, b in SYNONYMS)
    return f"CASE {whens} ELSE {v} END"


def analyzed_tokens_sql(text_expr: str, engine: str) -> str:
    """The full analyzer as ONE expression string for `engine`
    ('spark' | 'duck'). The engines differ only in the higher-order
    function names (transform/filter vs list_transform/list_filter)
    and the split builtin; every scalar rule string is shared
    verbatim, which is what makes the DuckDB oracle a real twin."""
    if engine == "spark":
        tr, fi, ne = "transform", "filter", "!="
        split = f"split(trim({text_expr}), ' ')"
    elif engine == "duck":
        tr, fi, ne = "list_transform", "list_filter", "<>"
        split = f"string_split(trim({text_expr}), ' ')"
    else:
        raise ValueError(f"unknown engine {engine!r}")
    expr = f"{fi}({split}, x -> x {ne} '')"
    expr = f"{tr}({expr}, x -> lower(x))"
    stop = ",".join(f"'{w}'" for w in STOPWORDS)
    expr = f"{fi}({expr}, x -> x NOT IN ({stop}))"
    for step in _stem_steps("x"):
        expr = f"{tr}({expr}, x -> {step})"
    return f"{tr}({expr}, x -> {_syn_case('x')})"


def analyzed_tokens(text_col: str) -> Column:
    """Spark Column of analyzed tokens for a text column NAME."""
    return F.expr(analyzed_tokens_sql(text_col, "spark"))


def analyze_py(text: str) -> list[str]:
    """Pure-Python twin of the analyzer — used to analyze QUERY
    strings at plan-build time (both the Spark op and the oracle SQL
    embed its output, so query analysis is one shared artifact) and
    to pin expression parity in tests."""
    syn = dict(SYNONYMS)
    out = []
    # strip(" ") — SPACES ONLY, mirroring SQL trim() exactly; Python's
    # bare strip() also eats tabs/newlines, which trim() leaves in
    # place and the twin contract forbids diverging on (review-caught)
    for t in text.strip(" ").split(" "):
        if not t:
            continue
        t = t.lower()
        if t in STOPWORDS:
            continue
        if t.endswith("sses"):
            t = t[:-2]
        elif t.endswith("ies") and len(t) > 4:
            t = t[:-3] + "y"
        elif t.endswith("s") and not t.endswith(("ss", "us")) \
                and len(t) > 3:
            t = t[:-1]
        if t.endswith("ing") and len(t) > 5:
            t = t[:-3]
        elif t.endswith("ed") and len(t) > 4:
            t = t[:-2]
        if t.endswith("e") and len(t) > 4:
            t = t[:-1]
        out.append(syn.get(t, t))
    return out

"""ES|QL — the piped query language of the ES backend (`POST
/_query`, the modern ES query surface; reference README.md:82
`VECTOR_DB=elastic`): a small but REAL translator from ES|QL pipeline
strings to Spark DataFrame plans, plus registered queries driving it
end-to-end against hand-written SQL oracles (the oracle is written
against the SOURCE tables, independently of the translator, so a
translator bug cannot cancel out).

Supported commands (each `|`-piped stage maps to one DataFrame
transformation, so Catalyst sees the whole pipeline as ONE logical
plan — filters still push to the scan, EVALs collapse into
projections, STATS becomes a partial-agg shuffle):

  FROM <table>
  WHERE <boolean expr>             (AND/OR, comparisons, arithmetic)
  EVAL  <name> = <expr>[, ...]
  STATS <name> = <agg> [WHERE <pred>][, ...] BY <col>[, ...]
  SORT  <col> [ASC|DESC][, ...]
  LIMIT <n>
  KEEP  <col>[, ...]
  DROP  <col>[, ...]
  ENRICH <policy> ON <key> [WITH <col>[, ...]]
  GROK  <col> "<pattern>"
  DISSECT <col> "<pattern>"
  MV_EXPAND <col>
  RENAME <old> AS <new>
  LOOKUP JOIN <index> ON <key>
  INLINESTATS <name> = <agg>[, ...] [BY <key>[, ...]]
  SAMPLE <p>
  FORK (<branch pipeline>) (<branch pipeline>) [...]
  CHANGE_POINT <value> ON <key>
  RERANK "<query>" ON <text_col>

WHERE composes anywhere in the pipeline — after STATS it is the
HAVING shape (a filter over the aggregated frame; Catalyst still
pushes pre-STATS WHEREs to the scan). STATS/INLINESTATS BY keys may
be computed: `BY b = BUCKET(price, 50000.0)`. INLINESTATS adds the
group aggregates to every row (partial-agg shuffle to a |groups|-row
frame, broadcast join back — rows never move). SAMPLE admits on a
deterministic md5 bucket of the frame's leading column (documented
deviation from ES's per-query randomness: reproducible pipelines,
oracle-checkable).

Predicates: AND/OR/NOT, comparisons, IN, LIKE (*/? wildcards),
RLIKE (anchored whole-string, Lucene semantics), IS [NOT] NULL.
Functions: DATE_TRUNC("unit", col), DATE_EXTRACT("part", col),
DATE_FORMAT("pattern", col), DATE_DIFF("unit", a, b) (whole units as
explicit epoch arithmetic — engine-portable), ROUND(x[, d]), CONCAT(...),
SPLIT(col, "delim"), TRIM, LENGTH, ABS, COALESCE,
CASE(cond, v[, cond2, v2...][, default]),
TO_STRING / TO_LONG / TO_DOUBLE, TO_UPPER / TO_LOWER, SUBSTRING,
LEFT / RIGHT, STARTS_WITH / ENDS_WITH, REPLACE (regex),
GREATEST / LEAST, FLOOR / CEIL / SQRT / POW / LOG10,
BUCKET(x, span), and the multivalue family MV_COUNT / MV_MIN /
MV_MAX / MV_SUM / MV_AVG / MV_DEDUPE / MV_SORT / MV_FIRST / MV_LAST /
MV_SLICE (0-based, inclusive end) / MV_CONCAT. Aggregates: COUNT(*), COUNT,
COUNT_DISTINCT, SUM (DECIMAL-exact fold), AVG, MIN, MAX,
MEDIAN / PERCENTILE(x, p) (exact interpolated — DuckDB
quantile_cont's definition, not ES's TDigest), STD_DEV (population,
DECIMAL-exact power sums), WEIGHTED_AVG(v, w). Every aggregate
accepts a per-aggregate `WHERE <pred>` filter (8.16 conditional
aggregates): failing rows become NULL inputs the aggregate skips —
FILTER(WHERE) semantics with zero extra passes.

Output policy: DECIMAL columns cast to DOUBLE in the final result
(ES|QL numeric results are double/long; internally money stays
DECIMAL through SUM so aggregation is exact and order-free).

Scale shape: the translator only ever EMITS the declarative ops used
everywhere else in this repo — scan filters, projections, one
partial-agg shuffle per STATS, broadcast joins for ENRICH (policies
are dimension tables by definition — ES materializes them as
enrich indices on every node, the literal analog of a broadcast),
TakeOrdered for SORT+LIMIT. Nothing row-at-a-time, no UDFs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .. import tables
from ..registry import register


# ------------------------------------------------------- tokenizer

_TOKEN_RE = re.compile(r"""
    \s*(
        "(?:[^"\\]|\\.)*"          # string literal
      | [A-Za-z_][A-Za-z0-9_.]*    # identifier / keyword
      | \d+\.\d+ | \d+             # number
      | == | != | >= | <= | [-+*/()=,<>]
    )""", re.X)


def _tokenize(s: str) -> list[str]:
    out, i = [], 0
    while i < len(s):
        m = _TOKEN_RE.match(s, i)
        if not m:
            if s[i:].strip():
                raise ValueError(f"ES|QL: cannot tokenize at {s[i:]!r}")
            break
        out.append(m.group(1))
        i = m.end()
    return out


def _split_pipes(q: str) -> list[str]:
    """Split on top-level `|` (quote- AND paren-aware: pipes inside a
    FORK branch's parentheses belong to the branch sub-pipeline)."""
    parts, buf, in_str, depth = [], [], False, 0
    i = 0
    while i < len(q):
        ch = q[i]
        if ch == '"' and (i == 0 or q[i - 1] != "\\"):
            in_str = not in_str
        elif not in_str and ch == "(":
            depth += 1
        elif not in_str and ch == ")":
            depth -= 1
        if ch == "|" and not in_str and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


# ------------------------------------------- expression parser (Pratt)

_FUNCS = {
    "ROUND": lambda a: F.round(a[0], 0) if len(a) == 1 else F.round(*a),
    "ABS": lambda a: F.abs(a[0]),
    "CONCAT": lambda a: F.concat(*a),
    "TO_STRING": lambda a: a[0].cast("string"),
    "TO_LONG": lambda a: a[0].cast("long"),
    "TO_DOUBLE": lambda a: a[0].cast("double"),
    # SPLIT is special-cased in parse_primary: its delimiter must be
    # re.escape'd as a python string (ES|QL delims are plain strings,
    # Spark's split() takes a regex).
    "TRIM": lambda a: F.trim(a[0]),
    "LENGTH": lambda a: F.length(a[0]),
    "COALESCE": lambda a: F.coalesce(*a),
    "CASE": lambda a: _case(a),
    # ---- v2 scalar surface (ES|QL string/math functions) ----
    "TO_UPPER": lambda a: F.upper(a[0]),
    "TO_LOWER": lambda a: F.lower(a[0]),
    # ES|QL SUBSTRING is 1-based like Spark's; omitted length = rest
    "SUBSTRING": lambda a: (a[0].substr(a[1], a[2]) if len(a) == 3
                            else a[0].substr(a[1], F.lit(2 ** 31 - 1))),
    "LEFT": lambda a: F.left(a[0], a[1]),
    "RIGHT": lambda a: F.right(a[0], a[1]),
    "STARTS_WITH": lambda a: a[0].startswith(a[1]),
    "ENDS_WITH": lambda a: a[0].endswith(a[1]),
    "REPLACE": lambda a: F.regexp_replace(a[0], a[1], a[2]),
    "GREATEST": lambda a: F.greatest(*a),
    "LEAST": lambda a: F.least(*a),
    "FLOOR": lambda a: F.floor(a[0]),
    "CEIL": lambda a: F.ceil(a[0]),
    "SQRT": lambda a: F.sqrt(a[0]),
    "POW": lambda a: F.pow(a[0], a[1]),
    "LOG10": lambda a: F.log10(a[0]),
    # BUCKET(col, span): numeric histogram key (dates go through
    # DATE_TRUNC) — floor-aligned bucket lower bound, ES|QL's
    # fixed-interval form. Collapses into the grouping projection.
    "BUCKET": lambda a: F.floor(a[0] / a[1]) * a[1],
    # DATE_EXTRACT("part", ts): date_part with a literal field — both
    # engines return the integer part (HOUR/DAY/MONTH/YEAR/...)
    "DATE_EXTRACT": lambda a: F.date_part(a[0], a[1]).cast("long"),
    # ---- multivalue family (arrays stay internal: the output policy
    # forbids array columns in a FINAL result, so MV_* either reduce
    # to scalars or feed MV_EXPAND) ----
    "MV_COUNT": lambda a: F.when(a[0].isNull(), None)
                           .otherwise(F.size(a[0]).cast("long")),
    "MV_MIN": lambda a: F.array_min(a[0]),
    "MV_MAX": lambda a: F.array_max(a[0]),
    "MV_DEDUPE": lambda a: F.array_distinct(a[0]),
    "MV_SORT": lambda a: F.array_sort(a[0]),
    "MV_FIRST": lambda a: F.element_at(a[0], 1),
    "MV_LAST": lambda a: F.element_at(a[0], -1),
    # ES|QL MV_SLICE is 0-based with an INCLUSIVE end
    "MV_SLICE": lambda a: F.slice(a[0], a[1] + 1, a[2] - a[1] + 1),
    "MV_SUM": lambda a: F.aggregate(a[0], F.lit(0.0),
                                    lambda acc, x: acc + x.cast("double")),
    "MV_AVG": lambda a: F.aggregate(a[0], F.lit(0.0),
                                    lambda acc, x: acc + x.cast("double"))
                        / F.size(a[0]),
}


def _case(args: list[Column]) -> Column:
    """ES|QL CASE(cond1, v1[, cond2, v2, ...][, default]) — odd
    trailing arg is the default, else NULL."""
    pairs, default = args, None
    if len(args) % 2 == 1:
        pairs, default = args[:-1], args[-1]
    if not pairs:
        raise ValueError("ES|QL: CASE needs at least (cond, value)")
    c = F.when(pairs[0], pairs[1])
    for i in range(2, len(pairs), 2):
        c = c.when(pairs[i], pairs[i + 1])
    return c.otherwise(default) if default is not None else c


class _ExprParser:
    def __init__(self, tokens: list[str]):
        self.t = tokens
        self.i = 0

    def peek(self) -> str | None:
        return self.t[self.i] if self.i < len(self.t) else None

    def next(self) -> str:
        tok = self.t[self.i]
        self.i += 1
        return tok

    def expect(self, tok: str) -> None:
        got = self.next()
        if got.upper() != tok:
            raise ValueError(f"ES|QL: expected {tok}, got {got!r}")

    def parse(self) -> Column:
        e = self.parse_or()
        if self.peek() is not None:
            raise ValueError(f"ES|QL: trailing tokens {self.t[self.i:]}")
        return e

    def parse_or(self) -> Column:
        e = self.parse_and()
        while (p := self.peek()) and p.upper() == "OR":
            self.next()
            e = e | self.parse_and()
        return e

    def parse_and(self) -> Column:
        e = self.parse_cmp()
        while (p := self.peek()) and p.upper() == "AND":
            self.next()
            e = e & self.parse_cmp()
        return e

    def parse_cmp(self) -> Column:
        if (p := self.peek()) and p.upper() == "NOT":
            self.next()
            return ~self.parse_cmp()
        e = self.parse_add()
        p = self.peek()
        if p in ("==", "!=", ">", ">=", "<", "<="):
            op = self.next()
            rhs = self.parse_add()
            return {"==": e.__eq__, "!=": e.__ne__, ">": e.__gt__,
                    ">=": e.__ge__, "<": e.__lt__, "<=": e.__le__}[op](rhs)
        if p and p.upper() == "IN":
            self.next()
            self.expect("(")
            vals = [self.parse_or()]
            while self.peek() == ",":
                self.next()
                vals.append(self.parse_or())
            self.expect(")")
            return e.isin(*vals)
        if p and p.upper() == "LIKE":
            # ES|QL LIKE wildcards are * and ? — translate to SQL
            # like's % and _ (escaping any literal %/_ first)
            self.next()
            pat = self.next()
            if not pat.startswith('"'):
                raise ValueError("ES|QL: LIKE pattern must be a string")
            sql_pat = (pat[1:-1].replace("\\", "\\\\")
                       .replace("%", "\\%").replace("_", "\\_")
                       .replace("*", "%").replace("?", "_"))
            return e.like(sql_pat)
        if p and p.upper() == "RLIKE":
            self.next()
            pat = self.next()
            if not pat.startswith('"'):
                raise ValueError("ES|QL: RLIKE pattern must be a string")
            # ES|QL RLIKE anchors the whole string (Lucene regexp
            # semantics), unlike Spark's substring-search rlike
            return e.rlike("^(?:" + pat[1:-1] + ")$")
        if p and p.upper() == "IS":
            self.next()
            if (q := self.peek()) and q.upper() == "NOT":
                self.next()
                self.expect("NULL")
                return e.isNotNull()
            self.expect("NULL")
            return e.isNull()
        return e

    def parse_add(self) -> Column:
        e = self.parse_mul()
        while self.peek() in ("+", "-"):
            op = self.next()
            rhs = self.parse_mul()
            e = e + rhs if op == "+" else e - rhs
        return e

    def parse_mul(self) -> Column:
        e = self.parse_unary()
        while self.peek() in ("*", "/"):
            op = self.next()
            rhs = self.parse_unary()
            e = e * rhs if op == "*" else e / rhs
        return e

    def parse_unary(self) -> Column:
        if self.peek() == "-":
            self.next()
            return -self.parse_unary()
        return self.parse_primary()

    def parse_primary(self) -> Column:
        tok = self.next()
        if tok == "(":
            e = self.parse_or()
            self.expect(")")
            return e
        if tok.startswith('"'):
            return F.lit(tok[1:-1].replace('\\"', '"'))
        if re.fullmatch(r"\d+\.\d+", tok):
            return F.lit(float(tok))
        if re.fullmatch(r"\d+", tok):
            # ES|QL integer literals are 64-bit (long); a bare
            # F.lit(int) yields IntegerType and overflows under ANSI
            # mode once products exceed 2^31.
            return F.lit(int(tok)).cast("long")
        # identifier or function call
        if tok.upper() == "SPLIT" and self.peek() == "(":
            # SPLIT(str, "delim"): ES|QL delimiters are plain strings,
            # Spark's split() takes a regex — escape the literal here.
            self.next()
            arg = self.parse_or()
            self.expect(",")
            d = self.next()
            if not d.startswith('"'):
                raise ValueError("ES|QL: SPLIT delimiter must be a string")
            self.expect(")")
            return F.split(arg, re.escape(d[1:-1]), -1)
        if tok.upper() == "MV_CONCAT" and self.peek() == "(":
            # MV_CONCAT(multivalue, "delim"): the delimiter must reach
            # Spark's array_join as a PYTHON string.
            self.next()
            arg = self.parse_or()
            self.expect(",")
            d = self.next()
            if not d.startswith('"'):
                raise ValueError("ES|QL: MV_CONCAT delimiter must be a string")
            self.expect(")")
            return F.array_join(arg, d[1:-1])
        if tok.upper() == "DATE_FORMAT" and self.peek() == "(":
            # DATE_FORMAT("pattern", date): the pattern must reach
            # Spark's date_format as a PYTHON string (both ES and
            # Spark speak the Java pattern language, so it passes
            # through verbatim).
            self.next()
            pat = self.next()
            if not pat.startswith('"'):
                raise ValueError("ES|QL: DATE_FORMAT pattern must be a string")
            self.expect(",")
            arg = self.parse_or()
            self.expect(")")
            return F.date_format(arg, pat[1:-1])
        if tok.upper() == "DATE_DIFF" and self.peek() == "(":
            # DATE_DIFF("unit", start, end): whole units from start to
            # end, computed as EXPLICIT epoch arithmetic — floor of the
            # second delta over the unit width — because the builtin
            # unit-diffs disagree across engines (Spark timestampdiff
            # counts complete periods, DuckDB date_diff counts boundary
            # crossings); the explicit form is bit-identical on both.
            self.next()
            unit = self.next()
            if not unit.startswith('"'):
                raise ValueError("ES|QL: DATE_DIFF unit must be a string")
            secs = {"second": 1, "minute": 60, "hour": 3600,
                    "day": 86400}.get(unit[1:-1].lower())
            if secs is None:
                raise ValueError(f"ES|QL: DATE_DIFF unit {unit} unsupported")
            self.expect(",")
            start = self.parse_or()
            self.expect(",")
            end = self.parse_or()
            self.expect(")")
            return F.floor((F.unix_timestamp(end)
                            - F.unix_timestamp(start)) / float(secs)) \
                    .cast("long")
        if self.peek() == "(":
            self.next()
            args = []
            if self.peek() != ")":
                args.append(self.parse_or())
                while self.peek() == ",":
                    self.next()
                    args.append(self.parse_or())
            self.expect(")")
            up = tok.upper()
            if up == "DATE_TRUNC":
                # DATE_TRUNC("unit", col) — unit arrives as a lit Column;
                # re-read it from the token stream is messy, so accept the
                # literal via a sentinel: args[0] must be a string literal.
                raise ValueError("DATE_TRUNC handled in _call")
            if up not in _FUNCS:
                raise ValueError(f"ES|QL: unknown function {tok}")
            return _FUNCS[up](args)
        return F.col(tok)


def _parse_expr(tokens: list[str]) -> Column:
    # DATE_TRUNC needs its unit as a python string, not a Column —
    # special-case it before the generic parser sees the call.
    out = []
    i = 0
    while i < len(tokens):
        if (tokens[i].upper() == "DATE_TRUNC" and i + 5 < len(tokens)
                and tokens[i + 1] == "("):
            unit = tokens[i + 2].strip('"')
            assert tokens[i + 3] == ","
            col = tokens[i + 4]
            assert tokens[i + 5] == ")"
            out.append(("__dt__", unit, col))
            i += 6
        else:
            out.append(tokens[i])
            i += 1
    # substitute sentinels with temp names the parser resolves
    subs: dict[str, Column] = {}
    final = []
    for j, t in enumerate(out):
        if isinstance(t, tuple):
            name = f"__dt{j}__"
            subs[name] = F.date_trunc(t[1], F.col(t[2]))
            final.append(name)
        else:
            final.append(t)
    p = _ExprParser(final)
    orig_primary = p.parse_primary

    def primary() -> Column:
        tok = p.peek()
        if tok in subs:
            p.next()
            return subs[tok]
        return orig_primary()

    p.parse_primary = primary
    return p.parse()


# ------------------------------------------------------------- GROK

_GROK_TYPES = {
    "WORD": r"\\w+", "NOTSPACE": r"\\S+", "NUMBER": r"[-+]?\\d+(?:\\.\\d+)?",
    "INT": r"[-+]?\\d+", "IP": r"\\d+\\.\\d+\\.\\d+\\.\\d+",
    "GREEDYDATA": r".*",
}
_GROK_FIELD = re.compile(r"%\{(\w+):(\w+)(?::(\w+))?\}")


def _grok_compile(pattern: str) -> tuple[str, list[tuple[str, str]]]:
    """GROK pattern -> (regex, [(field, cast_type)]) in group order."""
    fields: list[tuple[str, str]] = []
    regex_parts: list[str] = []
    pos = 0
    for m in _GROK_FIELD.finditer(pattern):
        regex_parts.append(re.escape(pattern[pos:m.start()]))
        kind, name, cast = m.group(1), m.group(2), m.group(3)
        if kind not in _GROK_TYPES:
            raise ValueError(f"GROK: unknown pattern %{{{kind}}}")
        regex_parts.append("(" + _GROK_TYPES[kind].replace("\\\\", "\\") + ")")
        fields.append((name, cast or "string"))
        pos = m.end()
    regex_parts.append(re.escape(pattern[pos:]))
    return "".join(regex_parts), fields


def _dissect_compile(pattern: str) -> tuple[str, list[tuple[str, str]]]:
    """DISSECT %{field} separators -> anchored non-greedy regex."""
    fields: list[tuple[str, str]] = []
    parts: list[str] = []
    pos = 0
    for m in re.finditer(r"%\{(\w+)\}", pattern):
        parts.append(re.escape(pattern[pos:m.start()]))
        parts.append("(.*?)")
        fields.append((m.group(1), "string"))
        pos = m.end()
    parts.append(re.escape(pattern[pos:]))
    return "^" + "".join(parts) + "$", fields


_CASTS = {"string": "string", "long": "long", "int": "int",
          "double": "double", "float": "double"}


# ------------------------------------------------- ENRICH policies

# ES enrich policies are named lookups materialized from an index —
# dimension tables by definition. (table, match_key, enrich_fields)
_POLICIES = {
    "customers": ("customer", "c_custkey", ["c_mktsegment", "c_name"]),
    "nations": ("nation", "n_nationkey", ["n_name", "n_regionkey"]),
}

_AGG_RE = re.compile(r"(\w+)\s*=\s*(\w+)\s*\(\s*([^()]*?)\s*\)")

# one STATS item, optionally with a per-aggregate filter:
#   name = FN(args) [WHERE <predicate>]        (ES|QL 8.16)
_AGG_ITEM_RE = re.compile(
    r"^\s*(\w+)\s*=\s*(\w+)\s*\(\s*([^()]*?)\s*\)"
    r"(?:\s+WHERE\s+(.+?))?\s*$", re.S | re.I)


def _parse_aggs(aggs_part: str) -> list[Column]:
    """STATS/INLINESTATS aggregate list — items split on top-level
    commas so a per-aggregate WHERE predicate may itself contain
    function calls/commas inside parens."""
    out = []
    for item in _split_assignments(aggs_part):
        m = _AGG_ITEM_RE.match(item)
        if not m:
            raise ValueError(f"ES|QL: bad aggregate {item!r}")
        name, fn, arg, cond = m.groups()
        pred = _parse_expr(_tokenize(cond)) if cond else None
        out.append(_agg_col(fn, arg, name, pred))
    return out


def _agg_col(fn: str, arg: str, name: str,
             pred: Column | None = None) -> Column:
    fn = fn.upper()
    args = [a.strip() for a in arg.split(",")] if arg else []
    arg = args[0] if args else arg

    def src(a: str) -> Column:
        # per-aggregate WHERE (ES|QL conditional aggregates): rows
        # failing the predicate become NULL, which every aggregate
        # here skips — the exact FILTER(WHERE ...) semantics, with
        # zero extra passes (still ONE partial agg)
        c = F.col(a)
        return F.when(pred, c) if pred is not None else c

    if fn == "COUNT" and arg == "*":
        c = F.count_if(pred) if pred is not None else F.count("*")
    elif fn == "COUNT":
        c = F.count(src(arg))
    elif fn == "COUNT_DISTINCT":
        c = F.count_distinct(src(arg)).cast("long")
    elif fn == "MEDIAN":
        # exact percentile with linear interpolation — the same
        # definition as DuckDB's quantile_cont, so cross-engine
        # hash-checkable (ES's TDigest approximation would not be)
        c = F.percentile(src(arg), F.lit(0.5))
    elif fn == "PERCENTILE":
        c = F.percentile(src(arg), F.lit(float(args[1]) / 100.0))
    elif fn == "STD_DEV":
        # population std from DECIMAL-exact power sums (the
        # extended_stats contract): both sums are order-free, the
        # moment is closed-form double math — identical cross-engine
        s = F.sum(src(arg).cast("decimal(28,6)")).cast("double")
        ss = F.sum((src(arg) * src(arg))
                   .cast("decimal(28,6)")).cast("double")
        n = F.count(src(arg))
        c = F.sqrt(F.greatest(ss / n - (s / n) * (s / n), F.lit(0.0)))
    elif fn == "WEIGHTED_AVG":
        v, w = args
        sv = F.sum((src(v) * src(w)).cast("decimal(28,6)"))
        sw = F.sum(src(w).cast("decimal(28,6)"))
        c = sv.cast("double") / sw.cast("double")
    elif fn == "SUM":
        # deterministic-aggregation contract: numeric SUM folds as
        # DECIMAL(28,6) internally — exact and order-free for inputs
        # with <=6 decimal digits (every money/measure column here);
        # the final-output pass casts DECIMAL back to DOUBLE. A plain
        # double fold is partition-order-dependent and WILL drift a
        # 6th digit between engines/runs (measured on esql_having).
        c = F.sum(src(arg).cast("decimal(28,6)"))
    elif fn == "AVG":
        c = (F.sum(src(arg).cast("decimal(28,6)")).cast("double")
             / F.count(src(arg)))
    elif fn == "MIN":
        c = F.min(src(arg))
    elif fn == "MAX":
        c = F.max(src(arg))
    else:
        raise ValueError(f"ES|QL: unknown aggregate {fn}")
    return c.alias(name)


def esql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Translate one ES|QL pipeline string to a DataFrame."""
    stages = _split_pipes(query)
    if not stages or not stages[0].upper().startswith("FROM"):
        raise ValueError("ES|QL: pipeline must start with FROM")
    df = tables.load(spark, sf_dir, stages[0].split()[1].strip())
    for stage in stages[1:]:
        df = _apply_stage(spark, sf_dir, df, stage)
    # ES|QL numeric results are long/double — exact DECIMAL folds
    # (money SUMs) surface as DOUBLE in the response
    from pyspark.sql.types import DecimalType
    casts = [F.col(f.name).cast("double").alias(f.name)
             if isinstance(f.dataType, DecimalType) else F.col(f.name)
             for f in df.schema.fields]
    return df.select(*casts)


def _apply_stage(spark: SparkSession, sf_dir: str, df: DataFrame,
                 stage: str) -> DataFrame:
    """One piped command applied to the running frame — factored out
    of esql() so FORK can apply branch sub-pipelines recursively."""
    kw, _, rest = stage.partition(" ")
    kw = kw.upper()
    rest = rest.strip()
    if kw == "WHERE":
        df = df.where(_parse_expr(_tokenize(rest)))
    elif kw == "EVAL":
        # split assignments on top-level commas
        for part in _split_assignments(rest):
            name, _, expr = part.partition("=")
            df = df.withColumn(name.strip(),
                               _parse_expr(_tokenize(expr)))
    elif kw == "STATS":
        aggs_part, _, by_part = _partition_kw(rest, "BY")
        aggs = _parse_aggs(aggs_part)
        df, keys = _by_keys(df, by_part)
        df = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    elif kw == "INLINESTATS":
        # per-group aggregates ADDED to every row (the window
        # shape of ES|QL): one partial-agg shuffle to a
        # |groups|-row frame, broadcast-joined back — rows never
        # re-shuffle, and with no BY the 1-row global frame is a
        # broadcast crossJoin (the bounded-frame rule)
        aggs_part, _, by_part = _partition_kw(rest, "BY")
        aggs = _parse_aggs(aggs_part)
        df, keys = _by_keys(df, by_part)
        if keys:
            df = df.join(F.broadcast(df.groupBy(*keys).agg(*aggs)),
                         keys, "left")
        else:
            df = df.crossJoin(F.broadcast(df.agg(*aggs)))
    elif kw == "SAMPLE":
        # ES|QL SAMPLE <p> admits each row with probability p.
        # ES draws randomly per query; here the admit is a
        # DETERMINISTIC md5 bucket of the frame's leading column
        # (the repo-wide reproducible-sampling contract: same rows
        # every run, every engine, any partitioning — write the
        # pipeline so a stable id leads, e.g. via KEEP).
        from ..functions.hashing import md5_int32
        df = df.where(
            md5_int32(F.col(df.columns[0]).cast("string")) % 10000
            < int(round(float(rest) * 10000)))
    elif kw == "SORT":
        cols = []
        for part in rest.split(","):
            bits = part.split()
            c = F.col(bits[0])
            cols.append(c.desc() if len(bits) > 1
                        and bits[1].upper() == "DESC" else c.asc())
        df = df.orderBy(*cols)
    elif kw == "LIMIT":
        df = df.limit(int(rest))
    elif kw == "KEEP":
        df = df.select(*[c.strip() for c in rest.split(",")])
    elif kw == "DROP":
        df = df.drop(*[c.strip() for c in rest.split(",")])
    elif kw == "ENRICH":
        m = re.fullmatch(
            r"(\w+)\s+ON\s+(\w+)(?:\s+WITH\s+(.*))?", rest, re.I)
        if not m:
            raise ValueError(f"ES|QL: bad ENRICH {rest!r}")
        policy, key, with_cols = m.group(1), m.group(2), m.group(3)
        tbl, match_key, fields = _POLICIES[policy]
        cols = ([c.strip() for c in with_cols.split(",")]
                if with_cols else fields)
        dim = (tables.load(spark, sf_dir, tbl)
               .select(F.col(match_key).alias(key), *cols))
        df = df.join(F.broadcast(dim), key, "left")
    elif kw == "MV_EXPAND":
        # one row per value of a multivalued field, other columns
        # repeated — F.explode, the exact relational analog
        others = [c for c in df.columns if c != rest]
        df = df.select(*others, F.explode(rest).alias(rest))
    elif kw == "RENAME":
        m = re.fullmatch(r"([\w.]+)\s+AS\s+(\w+)", rest, re.I)
        if not m:
            raise ValueError(f"ES|QL: bad RENAME {rest!r}")
        df = df.withColumnRenamed(m.group(1), m.group(2))
    elif kw == "LOOKUP":
        # LOOKUP JOIN <index> ON <key> — ES|QL joins a lookup-mode
        # index by field-name equality; broadcast left join brings
        # every lookup column (KEEP prunes downstream — and column
        # pruning pushes the projection into the lookup scan).
        m = re.fullmatch(r"JOIN\s+(\w+)\s+ON\s+(\w+)", rest, re.I)
        if not m:
            raise ValueError(f"ES|QL: bad LOOKUP {rest!r}")
        dim = tables.load(spark, sf_dir, m.group(1))
        df = df.join(F.broadcast(dim), m.group(2), "left")
    elif kw in ("GROK", "DISSECT"):
        m = re.fullmatch(r"([\w.]+)\s+\"(.*)\"", rest, re.S)
        if not m:
            raise ValueError(f"ES|QL: bad {kw} {rest!r}")
        col, pattern = m.group(1), m.group(2)
        compiled = (_grok_compile if kw == "GROK"
                    else _dissect_compile)(pattern)
        regex, fields = compiled
        for idx, (name, cast) in enumerate(fields, start=1):
            raw = F.regexp_extract(F.col(col), regex, idx)
            # ES leaves fields null on no-match ("" from Spark)
            v = F.when(raw == "", None).otherwise(raw)
            df = df.withColumn(name, v.cast(_CASTS[cast]))
    elif kw == "FORK":
        # FORK (branch1) (branch2) ... — each parenthesized branch is
        # a sub-pipeline applied to the CURRENT frame; results union
        # with a `_fork` discriminator (ES 8.18's command). Branch
        # schemas need not agree: unionByName null-pads (ES's
        # missing-field null semantics). The input plan fans out to
        # both branches and Catalyst optimizes each independently.
        branches = _paren_groups(rest)
        if len(branches) < 2:
            raise ValueError("ES|QL: FORK needs >= 2 branches")
        outs = []
        for i, b in enumerate(branches, start=1):
            bdf = df
            for st in _split_pipes(b):
                bdf = _apply_stage(spark, sf_dir, bdf, st)
            outs.append(bdf.withColumn("_fork", F.lit(f"fork{i}")))
        df = outs[0]
        for o in outs[1:]:
            df = df.unionByName(o, allowMissingColumns=True)
    elif kw == "CHANGE_POINT":
        # CHANGE_POINT <value> ON <key> (ES|QL 8.16): step-change
        # detection over a BUCKETED series (the frame is post-STATS,
        # so it is |buckets|-sized by construction — the 1-row
        # collect_list reduce is bounded, the change_point_agg
        # contract). Emits the series back with `type` set on the
        # detected row and `delta` = |mean gap| (ES reports a
        # p-value; the mean-gap magnitude is this engine's
        # deterministic analog — documented deviation). Keeps only
        # (key, value) + annotations.
        from .stats import step_change_best
        m = re.fullmatch(r"([\w.]+)\s+ON\s+([\w.]+)", rest, re.I)
        if not m:
            raise ValueError(f"ES|QL: bad CHANGE_POINT {rest!r}")
        v, k = m.group(1), m.group(2)
        arr = (df.agg(F.array_sort(F.collect_list(F.struct(
                   F.col(k).alias("k"), F.col(v).alias("v")))).alias("a"))
                 .select(F.transform("a", lambda x: x.getField("v"))
                          .alias("t"),
                         F.transform("a", lambda x: x.getField("k"))
                          .alias("ks"),
                         F.size("a").alias("n"))
                 .where(F.col("n") >= 2)
                 .select("t", "ks", "n", step_change_best().alias("b")))
        row = F.posexplode(F.arrays_zip(
            F.col("ks").alias("k"), F.col("t").alias("v")))
        df = (arr.select(F.col("b"), row.alias("pos", "r"))
                 .select(F.col("r.k").alias(k), F.col("r.v").alias(v),
                         F.when(F.col("pos") + 1 == F.col("b.s"),
                                F.lit("step_change"))
                          .alias("type"),
                         F.when(F.col("pos") + 1 == F.col("b.s"),
                                F.round(F.col("b.delta"), 6))
                          .alias("delta")))
    elif kw == "RERANK":
        # RERANK "query" ON <text_col> (ES 8.18 semantic rerank):
        # scores every row of the CURRENT frame with the cross-encoder
        # kernel (per-partition model load, Arrow-batched) into
        # `_score`. Compose it AFTER a retrieval/filter stage — the
        # model pays per surviving row, which is the production
        # retrieve-then-rerank contract (rerank_inference's shape).
        m = re.fullmatch(r"\"(.*)\"\s+ON\s+([\w.]+)", rest, re.S)
        if not m:
            raise ValueError(f"ES|QL: bad RERANK {rest!r}")
        from .inference import make_cross_encode_batches
        qterms = tuple(t for t in m.group(1).split(" ") if t)
        col = m.group(2)
        cols = df.columns
        if "doc_id" not in cols or col not in cols:
            raise ValueError(
                "ES|QL: RERANK needs a doc_id column (the stub model's "
                f"determinism key) and the ON column {col!r} in the "
                f"frame; have {cols}")
        kernel = make_cross_encode_batches(qterms, "doc_id", col, cols)
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields) + ", _score double"
        df = df.mapInPandas(kernel, schema=schema)
    else:
        raise ValueError(f"ES|QL: unknown command {kw}")
    return df


def _paren_groups(s: str) -> list[str]:
    """Top-level (...) groups of a FORK argument list (quote-aware)."""
    out, buf, depth, in_str = [], [], 0, False
    for ch in s:
        if ch == '"':
            in_str = not in_str
        if not in_str and ch == "(":
            depth += 1
            if depth == 1:
                continue
        if not in_str and ch == ")":
            depth -= 1
            if depth == 0:
                out.append("".join(buf).strip())
                buf = []
                continue
        if depth >= 1:
            buf.append(ch)
    if depth != 0:
        raise ValueError("ES|QL: unbalanced parentheses in FORK")
    return out
    # ES|QL numeric results are long/double — exact DECIMAL folds
    # (money SUMs) surface as DOUBLE in the response
    from pyspark.sql.types import DecimalType
    casts = [F.col(f.name).cast("double").alias(f.name)
             if isinstance(f.dataType, DecimalType) else F.col(f.name)
             for f in df.schema.fields]
    return df.select(*casts)


_ASSIGN_RE = re.compile(r"^\s*(\w+)\s*=(?!=)\s*(.+)$", re.S)


def _by_keys(df: DataFrame, by_part: str) -> tuple[DataFrame, list[str]]:
    """BY clause of STATS/INLINESTATS: plain column names, or computed
    keys `name = <expr>` (e.g. `b = BUCKET(price, 50000.0)`) which
    become projection columns first — Catalyst collapses them into
    the grouping's partial-agg projection."""
    keys: list[str] = []
    for part in _split_assignments(by_part):
        if m := _ASSIGN_RE.match(part):
            df = df.withColumn(m.group(1), _parse_expr(_tokenize(m.group(2))))
            keys.append(m.group(1))
        elif part.strip():
            keys.append(part.strip())
    return df, keys


def _split_assignments(s: str) -> list[str]:
    out, buf, depth, in_str = [], [], 0, False
    for ch in s:
        if ch == '"':
            in_str = not in_str
        elif not in_str and ch == "(":
            depth += 1
        elif not in_str and ch == ")":
            depth -= 1
        if ch == "," and depth == 0 and not in_str:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    out.append("".join(buf))
    return [p for p in out if p.strip()]


def _partition_kw(s: str, kw: str) -> tuple[str, str, str]:
    m = re.search(rf"\b{kw}\b", s, re.I)
    if not m:
        return s, "", ""
    return s[:m.start()], kw, s[m.end():]


# ------------------------------------------------- registered queries

ESQL_STATS = """
FROM orders
| WHERE o_orderstatus == "F" AND o_totalprice > 1000.0
| EVAL month = DATE_TRUNC("month", o_orderdate)
| STATS n = COUNT(*), revenue = SUM(o_totalprice),
        top = MAX(o_totalprice) BY month, o_orderpriority
| SORT month, o_orderpriority
| LIMIT 60
"""


@register("esql_stats", oracle="""
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       o_orderpriority, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue,
       CAST(max(o_totalprice) AS DOUBLE) AS top
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice > 1000.0
GROUP BY 1, 2 ORDER BY month, o_orderpriority LIMIT 60
""")
def esql_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL aggregation pipeline end-to-end through the translator
    (the oracle is written directly against the source table —
    independent of the translation). One scan-stage filter + EVAL
    projection, one partial-agg shuffle, TakeOrdered page; the money
    SUM folds as DECIMAL internally and surfaces as DOUBLE per the
    ES|QL output contract."""
    df = esql(spark, sf_dir, ESQL_STATS)
    return df.select("month", "o_orderpriority", "n",
                     F.round("revenue", 6).alias("revenue"),
                     F.round("top", 6).alias("top"))


ESQL_ENRICH = """
FROM orders
| ENRICH customers ON o_custkey WITH c_mktsegment
| STATS n = COUNT(*), revenue = SUM(o_totalprice),
        buyers = COUNT_DISTINCT(o_custkey) BY c_mktsegment
| SORT c_mktsegment
"""


@register("esql_enrich", oracle="""
SELECT c.c_mktsegment AS c_mktsegment, count(*) AS n,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS buyers
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1 ORDER BY 1
""")
def esql_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL `ENRICH <policy> ON key WITH field` — ES materializes an
    enrich policy's source index onto every node and joins at query
    time; the exact Spark analog is a broadcast hash join against the
    dimension table, which is what the translator emits (plan-pinned
    in tests). STATS then shuffles |segments| partial rows."""
    df = esql(spark, sf_dir, ESQL_ENRICH)
    return df.select("c_mktsegment", "n",
                     F.round("revenue", 6).alias("revenue"), "buyers")


ESQL_GROK = """
FROM events
| EVAL line = CONCAT(event_type, " uid=", TO_STRING(user_id))
| GROK line "%{WORD:etype} uid=%{NUMBER:uid:long}"
| WHERE uid >= 0
| STATS n = COUNT(*), users = COUNT_DISTINCT(uid),
        hi = MAX(uid) BY etype
| SORT etype
"""


@register("esql_grok", oracle="""
SELECT event_type AS etype, count(*) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS users,
       max(user_id) AS hi
FROM events WHERE user_id >= 0
GROUP BY 1 ORDER BY 1
""")
def esql_grok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL GROK (the ingest-pipeline parse surface lifted into the
    query language): a log-line string column — genuinely built with
    CONCAT, then parsed BACK with a %-pattern compiled to a typed
    regexp extraction (WORD/NUMBER patterns, :long cast, null on
    no-match, exactly ES's grok processor contract). The oracle
    computes the census from the source columns (the round-trip is
    content-preserving by construction — the json_contains_filter
    precedent). All map-side string ops in the scan projection, one
    |types|-row partial agg."""
    return esql(spark, sf_dir, ESQL_GROK)


ESQL_MV_EXPAND = """
FROM documents
| EVAL toks = SPLIT(TRIM(text), " ")
| MV_EXPAND toks
| WHERE toks != ""
| RENAME toks AS token
| STATS df = COUNT_DISTINCT(doc_id), n = COUNT(*) BY token
| SORT df DESC, token
| LIMIT 15
"""


@register("esql_mv_expand", oracle="""
WITH t AS (
  SELECT doc_id,
         unnest(string_split(trim(text), ' ')) AS token
  FROM documents)
SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       count(*) AS n
FROM t WHERE token <> ''
GROUP BY token ORDER BY df DESC, token LIMIT 15
""")
def esql_mv_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL multivalue pipeline: `EVAL SPLIT | MV_EXPAND | STATS` —
    the term-frequency census written AS an ES|QL pipeline (MV_EXPAND
    is ES|QL's explode; SPLIT's plain-string delimiter is re-escaped
    into Spark's regex split at parse time). The explode + vocab
    partial agg is the same single-shuffle shape as every token
    census in the repo — the translator emits it, it doesn't
    reimplement it."""
    return esql(spark, sf_dir, ESQL_MV_EXPAND)


ESQL_LOOKUP = """
FROM customer
| RENAME c_nationkey AS n_nationkey
| LOOKUP JOIN nation ON n_nationkey
| STATS n = COUNT(*), acct = SUM(c_acctbal) BY n_name
| SORT n_name
"""


@register("esql_lookup", oracle="""
SELECT n.n_name AS n_name, count(*) AS n,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acct
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1 ORDER BY 1
""")
def esql_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL `LOOKUP JOIN` (the 8.18+ join-against-a-lookup-index
    command — field-name-equality join semantics, hence the RENAME
    first): broadcast left join against the lookup table, STATS over
    the joined frame. Money folds as DECIMAL, surfaces DOUBLE."""
    df = esql(spark, sf_dir, ESQL_LOOKUP)
    return df.select("n_name", "n", F.round("acct", 6).alias("acct"))


ESQL_HAVING = """
FROM lineitem
| WHERE l_returnflag IN ("A", "R")
| STATS n = COUNT(*), revenue = SUM(l_extendedprice)
        BY l_returnflag, l_linestatus
| WHERE revenue > 1000000.0
| SORT l_returnflag, l_linestatus
"""


@register("esql_having", oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue
FROM lineitem
WHERE l_returnflag IN ('A', 'R')
GROUP BY 1, 2
HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
       > 1000000.0
ORDER BY 1, 2
""")
def esql_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL compositionality: WHERE appears BOTH before STATS (an
    `IN` membership filter that Catalyst pushes to the scan) and
    after it (the HAVING shape — ES|QL has no HAVING keyword; a
    post-STATS WHERE filters the aggregated frame, which is exactly
    what the translator emits). One pushed-filter scan, one
    partial-agg shuffle, a bucket-frame filter, TakeOrdered."""
    df = esql(spark, sf_dir, ESQL_HAVING)
    return df.select("l_returnflag", "l_linestatus", "n",
                     F.round("revenue", 6).alias("revenue"))


ESQL_DISSECT = """
FROM events
| EVAL line = CONCAT(event_type, "|", TO_STRING(user_id))
| DISSECT line "%{etype}|%{uid}"
| EVAL uid_n = TO_LONG(uid)
| KEEP etype, uid_n
| STATS n = COUNT(*), hi = MAX(uid_n) BY etype
| SORT etype
"""


@register("esql_dissect", oracle="""
SELECT event_type AS etype, count(*) AS n, max(user_id) AS hi
FROM events GROUP BY 1 ORDER BY 1
""")
def esql_dissect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL `DISSECT` (the positional, no-regex-cost sibling of
    GROK: %-fields split by literal separators compile to anchored
    non-greedy groups) driven end-to-end with `KEEP` projection —
    the round-trip CONCAT → DISSECT census, oracle from source
    columns (the GROK precedent). KEEP's projection reaches the
    scan as column pruning like any select."""
    return esql(spark, sf_dir, ESQL_DISSECT)


# ======================================================================
# Queries over the wider translator surface: window
# aggregates (INLINESTATS), deterministic row sampling (SAMPLE),
# computed grouping keys (`BY b = BUCKET(...)`), the string-function
# family (TO_UPPER/TO_LOWER/SUBSTRING/LEFT/RIGHT/STARTS_WITH/ENDS_WITH/
# REPLACE), pattern predicates (LIKE with */? wildcards, anchored
# RLIKE, IS [NOT] NULL, NOT), multivalue reducers (MV_COUNT/MV_MIN/
# MV_MAX/MV_SUM/MV_AVG/MV_DEDUPE), and the statistics aggregates
# MEDIAN / PERCENTILE / STD_DEV / WEIGHTED_AVG.
#
# Every query here goes END-TO-END through the translator
# (`esql.esql()`); the oracle is hand-written against the source tables
# so a translator bug cannot cancel out (the contract above).
#
# Scale shape: the translator only emits declarative ops — the new
# commands keep that promise. INLINESTATS is one partial-agg shuffle to
# a |groups|-row frame broadcast back onto unmoved rows (ES computes
# the same thing node-locally and merges; a row shuffle would be
# strictly worse). SAMPLE is a map-side md5-bucket admit (deterministic
# by design — the repo-wide reproducible-sampling contract, vs ES's
# per-query randomness; documented deviation). BUCKET collapses into
# the grouping projection; MEDIAN/PERCENTILE use Spark's exact
# `percentile` (linear interpolation, the same definition as DuckDB's
# `quantile_cont` — ES's TDigest approximation would not be
# cross-engine hash-checkable); STD_DEV/WEIGHTED_AVG fold DECIMAL-exact
# power sums (the extended_stats contract) so results are
# partition-order-free.
# ======================================================================


# ------------------------------------------------------- INLINESTATS

ESQL_INLINESTATS = """
FROM lineitem
| INLINESTATS avg_price = AVG(l_extendedprice) BY l_returnflag
| WHERE l_extendedprice > avg_price * 1.5
| STATS n = COUNT(*), hi = MAX(l_extendedprice),
        avg_hit = AVG(l_extendedprice) BY l_returnflag
| SORT l_returnflag
"""


@register("esql_inlinestats", oracle="""
WITH a AS (
  SELECT l_returnflag,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
           / count(l_extendedprice) AS avg_price
  FROM lineitem GROUP BY 1)
SELECT l.l_returnflag, count(*) AS n, max(l.l_extendedprice) AS hi,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(28,6)))
                  AS DOUBLE) / count(l.l_extendedprice), 6) AS avg_hit
FROM lineitem l JOIN a ON a.l_returnflag = l.l_returnflag
WHERE l.l_extendedprice > a.avg_price * 1.5
GROUP BY 1 ORDER BY 1
""")
def esql_inlinestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL `INLINESTATS` — group aggregates joined back onto the
    rows (the "compare each row to its own group's mean" shape, here
    selecting items priced >1.5x their returnflag's average). The
    translator emits one partial-agg shuffle to a 3-row frame and a
    broadcast join back; the row side never shuffles. The AVG is the
    translator's DECIMAL-exact fold, mirrored verbatim in the oracle
    CTE so the strict > boundary is bit-identical cross-engine."""
    df = esql(spark, sf_dir, ESQL_INLINESTATS)
    return df.select("l_returnflag", "n", "hi",
                     F.round("avg_hit", 6).alias("avg_hit"))


# ---------------------------------------------------- string family

ESQL_STRINGS = """
FROM customer
| WHERE STARTS_WITH(c_name, "Customer") AND c_acctbal IS NOT NULL
        AND NOT c_mktsegment LIKE "FURN*"
| WHERE c_mktsegment RLIKE "(AUTO|BUIL|MACH).*"
| EVAL seg = TO_LOWER(c_mktsegment),
       num = TO_LONG(REPLACE(c_name, "Customer#", "")),
       pre = TO_UPPER(SUBSTRING(c_name, 1, 4))
| STATS n = COUNT(*), hi_num = MAX(num), maxbal = MAX(c_acctbal),
        tags = COUNT_DISTINCT(pre) BY seg
| SORT seg
"""


@register("esql_strings", oracle="""
SELECT lower(c_mktsegment) AS seg, count(*) AS n,
       max(CAST(replace(c_name, 'Customer#', '') AS BIGINT)) AS hi_num,
       max(c_acctbal) AS maxbal,
       CAST(count(DISTINCT upper(substr(c_name, 1, 4))) AS BIGINT)
         AS tags
FROM customer
WHERE starts_with(c_name, 'Customer') AND c_acctbal IS NOT NULL
  AND c_mktsegment NOT LIKE 'FURN%'
  AND regexp_full_match(c_mktsegment, '(AUTO|BUIL|MACH).*')
GROUP BY 1 ORDER BY 1
""")
def esql_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL string functions + pattern predicates in one pipeline:
    STARTS_WITH / IS NOT NULL / NOT...LIKE (*-wildcards mapped to SQL
    like with %/_ escaping) / RLIKE (anchored whole-string, Lucene
    regexp semantics — hence the oracle's regexp_full_match) /
    TO_LOWER / TO_UPPER / SUBSTRING / REPLACE / TO_LONG. All of it is
    scan-projection string work that Catalyst keeps inside
    whole-stage codegen; the only shuffle is the |segments|-row
    partial agg."""
    return esql(spark, sf_dir, ESQL_STRINGS)


# ------------------------------------------------- multivalue family

ESQL_MV_FUNCS = """
FROM documents
| EVAL toks = SPLIT(TRIM(text), " ")
| EVAL ntok = MV_COUNT(toks), utok = MV_COUNT(MV_DEDUPE(toks)),
       top = MV_MAX(toks)
| STATS docs = COUNT(*), toks = SUM(ntok), uniq = SUM(utok),
        top_tok = MAX(top) BY source
| SORT source
"""


@register("esql_mv_funcs", oracle="""
WITH t AS (
  SELECT source,
         len(string_split(trim(text), ' ')) AS ntok,
         len(list_distinct(string_split(trim(text), ' '))) AS utok,
         list_max(string_split(trim(text), ' ')) AS top
  FROM documents)
SELECT source, count(*) AS docs,
       CAST(sum(CAST(ntok AS DECIMAL(28,6))) AS DOUBLE) AS toks,
       CAST(sum(CAST(utok AS DECIMAL(28,6))) AS DOUBLE) AS uniq,
       max(top) AS top_tok
FROM t GROUP BY 1 ORDER BY 1
""")
def esql_mv_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL multivalue reducers: per-document token multivalues
    (SPLIT) reduced by MV_COUNT / MV_DEDUPE / MV_MAX into scalars,
    then aggregated per source — the per-doc vocabulary-richness
    census written in ES|QL. Arrays live only inside the projection
    (the output policy forbids them in a final result); everything
    collapses map-side into the scan, one |sources|-row shuffle."""
    return esql(spark, sf_dir, ESQL_MV_FUNCS)


# ------------------------------------- MEDIAN/PERCENTILE/STD_DEV/WAVG

ESQL_PCTL = """
FROM lineitem
| WHERE l_returnflag == "R"
| STATS med = MEDIAN(l_quantity), p90 = PERCENTILE(l_quantity, 90),
        sd = STD_DEV(l_quantity),
        wavg = WEIGHTED_AVG(l_extendedprice, l_quantity)
        BY l_linestatus
| SORT l_linestatus
"""


@register("esql_percentile", oracle="""
SELECT l_linestatus,
       round(quantile_cont(l_quantity, 0.5), 6) AS med,
       round(quantile_cont(l_quantity, 0.9), 6) AS p90,
       round(sqrt(greatest(
         CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
              AS DOUBLE) / count(l_quantity)
         - (CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
            / count(l_quantity))
           * (CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
              / count(l_quantity)), 0)), 6) AS sd,
       round(CAST(sum(CAST(l_extendedprice * l_quantity
                           AS DECIMAL(28,6))) AS DOUBLE)
             / CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE),
             6) AS wavg
FROM lineitem WHERE l_returnflag = 'R'
GROUP BY 1 ORDER BY 1
""")
def esql_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL statistics aggregates: MEDIAN and PERCENTILE(x, 90) as
    exact interpolated percentiles (DuckDB quantile_cont's
    definition — deterministic, unlike ES's TDigest), STD_DEV from
    DECIMAL-exact power sums (population, closed-form — the
    extended_stats contract), WEIGHTED_AVG as exact sum(v*w)/sum(w).
    One grouped pass; the percentile is the only sort-based
    aggregate and is bounded per-group."""
    df = esql(spark, sf_dir, ESQL_PCTL)
    return df.select("l_linestatus",
                     F.round("med", 6).alias("med"),
                     F.round("p90", 6).alias("p90"),
                     F.round("sd", 6).alias("sd"),
                     F.round("wavg", 6).alias("wavg"))


# ------------------------------------------------------------ BUCKET

ESQL_BUCKET = """
FROM orders
| STATS n = COUNT(*), revenue = SUM(o_totalprice)
        BY b = BUCKET(o_totalprice, 50000.0)
| SORT b
"""


@register("esql_bucket", oracle="""
SELECT floor(o_totalprice / 50000.0) * 50000.0 AS b,
       count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE),
             6) AS revenue
FROM orders GROUP BY 1 ORDER BY 1
""")
def esql_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL `BUCKET(field, span)` as a computed grouping key
    (`BY b = BUCKET(...)`) — the numeric-histogram shape. The bucket
    expression collapses into the grouping's partial-agg projection
    (one shuffle of |buckets| partial rows); floor-aligned lower
    bounds are identical double math on both engines."""
    df = esql(spark, sf_dir, ESQL_BUCKET)
    return df.select("b", "n", F.round("revenue", 6).alias("revenue"))


# ------------------------------------------------------------ SAMPLE

ESQL_SAMPLE = """
FROM orders
| KEEP o_orderkey, o_orderpriority, o_totalprice
| SAMPLE 0.2
| STATS n = COUNT(*), revenue = SUM(o_totalprice) BY o_orderpriority
| SORT o_orderpriority
"""


@register("esql_sample", oracle="""
SELECT o_orderpriority, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE),
             6) AS revenue
FROM orders
WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
      % 10000 < 2000
GROUP BY 1 ORDER BY 1
""")
def esql_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL `SAMPLE 0.2` — a 20% row sample ahead of the
    aggregation. ES draws randomly per query; the translator instead
    admits on a deterministic md5 bucket of the frame's leading
    column (KEEP puts the stable id first), the repo-wide
    reproducible-sampling contract: same rows every run, every
    engine, any partitioning — and therefore oracle-checkable.
    Map-side admit, no state, filter lives in the scan stage."""
    df = esql(spark, sf_dir, ESQL_SAMPLE)
    return df.select("o_orderpriority", "n",
                     F.round("revenue", 6).alias("revenue"))


# ------------------------------------------------------ CHANGE_POINT

ESQL_CHANGE_POINT = """
FROM events
| STATS total = SUM(value) BY day = DATE_TRUNC("day", ts)
| CHANGE_POINT total ON day
| SORT day
"""


@register("esql_change_point", oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
  FROM events GROUP BY 1),
arr AS (
  SELECT list(total ORDER BY day) AS t, list(day ORDER BY day) AS days,
         count(*) AS n
  FROM d),
sp AS (
  SELECT n, days, t,
         list_transform(range(2, n + 1), s -> struct_pack(
             s := s,
             delta := abs(list_sum(t[1:s - 1]) / (s - 1)
                          - list_sum(t[s:]) / (n - s + 1)))) AS cands
  FROM arr WHERE n >= 2),
best AS (
  SELECT n, days, t,
         (SELECT c FROM unnest(cands) AS u(c)
          ORDER BY c.delta DESC, c.s LIMIT 1) AS b
  FROM sp)
SELECT days[i] AS day, t[i] AS total,
       CASE WHEN i = b.s THEN 'step_change' END AS type,
       CASE WHEN i = b.s THEN round(b.delta, 6) END AS delta
FROM best, unnest(range(1, n + 1)) AS u(i)
ORDER BY day
""")
def esql_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL `CHANGE_POINT value ON key` (the 8.16 step-change
    command): the bucketed daily series comes back annotated — `type`
    = 'step_change' on the detected row, `delta` = the |mean gap|
    magnitude (ES reports a p-value; the gap is this engine's
    deterministic analog). Detection is the SAME step_change_best
    fold change_point_agg ships (shared helper), run over the
    |buckets|-row post-STATS frame — the 1-row reduce is bounded by
    construction, candidate splits are map-side array math."""
    return esql(spark, sf_dir, ESQL_CHANGE_POINT)


# -------------------------------------------------------------- FORK

ESQL_FORK = """
FROM orders
| FORK (SORT o_totalprice DESC, o_orderkey | LIMIT 5
        | KEEP o_orderkey, o_totalprice)
       (STATS n = COUNT(*), revenue = SUM(o_totalprice)
        BY o_orderpriority)
| SORT _fork, o_orderkey, o_orderpriority
"""


@register("esql_fork", oracle="""
SELECT 'fork1' AS _fork, o_orderkey, o_totalprice,
       CAST(NULL AS VARCHAR) AS o_orderpriority,
       CAST(NULL AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS revenue
FROM (SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 5)
UNION ALL
SELECT 'fork2', NULL, NULL, o_orderpriority,
       count(*),
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 6)
FROM orders GROUP BY o_orderpriority
ORDER BY _fork, o_orderkey, o_orderpriority
""")
def esql_fork(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL `FORK (branch) (branch)` (the 8.18 multi-branch command):
    one input frame fans out to a top-N page AND a grouped census,
    results unioned with the `_fork` discriminator and null-padded
    where a branch lacks a column (ES's missing-field semantics).
    Catalyst optimizes each branch independently off the shared scan;
    neither branch pays for the other's shuffle."""
    df = esql(spark, sf_dir, ESQL_FORK)
    return df.select("_fork", "o_orderkey", "o_totalprice",
                     "o_orderpriority", "n",
                     F.round("revenue", 6).alias("revenue"))


# ------------------------------------------------------------ RERANK

ESQL_RERANK = """
FROM documents
| KEEP doc_id, text
| SAMPLE 0.3
| RERANK "fast table scan" ON text
| SORT _score DESC, doc_id
| LIMIT 10
| KEEP doc_id, _score
"""


@register("esql_rerank", oracle="""
WITH s AS (
  SELECT doc_id, text FROM documents
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        % 10000 < 3000),
ce AS (
  SELECT doc_id,
         len(list_filter(['fast', 'table', 'scan'],
             t -> list_contains(list_filter(string_split(trim(text), ' '),
                                            x -> x <> ''), t)))
           + ('0x' || substr(md5('ce:' || doc_id), 1, 15))::BIGINT
             / 1152921504606846976.0 AS sc
  FROM s)
SELECT doc_id, round(sc, 6) AS _score
FROM ce ORDER BY sc DESC, doc_id LIMIT 10
""")
def esql_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL `RERANK "query" ON field` (the 8.18 semantic-rerank
    command, ES's inference-endpoint stage lifted into the query
    language): the deterministic cross-encoder kernel scores every
    surviving row into `_score` — composed AFTER the sampling stage,
    the retrieve-then-rerank contract (model cost is bounded by the
    candidate set, never the corpus). Per-partition model load,
    Arrow-batched (rerank_inference's kernel, parametric query
    terms)."""
    df = esql(spark, sf_dir, ESQL_RERANK)
    return df.select("doc_id", F.round("_score", 6).alias("_score"))


# ------------------------------------------------------ date family

ESQL_DATES = """
FROM events
| EVAL d = DATE_FORMAT("yyyy-MM-dd", ts), hr = DATE_EXTRACT("hour", ts)
| INLINESTATS t0 = MIN(ts)
| EVAL age_h = DATE_DIFF("hour", t0, ts)
| STATS n = COUNT(*), hours = COUNT_DISTINCT(hr),
        max_age = MAX(age_h) BY d
| SORT d
"""


@register("esql_dates", oracle="""
WITH t0 AS (SELECT min(ts) AS t0 FROM events)
SELECT strftime(ts, '%Y-%m-%d') AS d, count(*) AS n,
       CAST(count(DISTINCT date_part('hour', ts)) AS BIGINT) AS hours,
       max(CAST(floor((epoch(ts) - epoch(t0.t0)) / 3600.0) AS BIGINT))
         AS max_age
FROM events, t0
GROUP BY 1 ORDER BY 1
""")
def esql_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL date-function family end-to-end: DATE_FORMAT (Java
    pattern, passed through verbatim — ES and Spark share the pattern
    language), DATE_EXTRACT (date_part integer field), and DATE_DIFF
    computed as explicit epoch arithmetic (the builtin unit-diffs
    disagree across engines — Spark counts complete periods, DuckDB
    counts boundary crossings; floor(delta_seconds / unit) is
    bit-identical on both). The corpus age baseline comes from an
    INLINESTATS global MIN broadcast onto unmoved rows; everything
    else is scan-projection date math + one |days|-row partial agg."""
    return esql(spark, sf_dir, ESQL_DATES)


# ------------------------------------------ per-aggregate WHERE

ESQL_STATS_WHERE = """
FROM lineitem
| STATS n = COUNT(*),
        n_ret = COUNT(*) WHERE l_returnflag == "R",
        rev_ret = SUM(l_extendedprice) WHERE l_returnflag == "R",
        hi_disc = MAX(l_quantity) WHERE l_discount > 0.05,
        avg_ret = AVG(l_extendedprice) WHERE l_returnflag == "R"
        BY l_linestatus
| SORT l_linestatus
"""


@register("esql_stats_where", oracle="""
SELECT l_linestatus, count(*) AS n,
       CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT) AS n_ret,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6)))
                  FILTER (l_returnflag = 'R') AS DOUBLE), 6) AS rev_ret,
       max(l_quantity) FILTER (l_discount > 0.05) AS hi_disc,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6)))
                  FILTER (l_returnflag = 'R') AS DOUBLE)
             / count(l_extendedprice) FILTER (l_returnflag = 'R'), 6)
         AS avg_ret
FROM lineitem GROUP BY 1 ORDER BY 1
""")
def esql_stats_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL per-aggregate filters (the 8.16 `STATS agg WHERE pred`
    conditional-aggregate syntax): one grouped pass computes the
    overall count beside return-flag-scoped count/revenue/average and
    a discount-scoped max — rows failing an aggregate's predicate
    become NULL inputs that the aggregate skips, the exact
    FILTER(WHERE ...) semantics, with ZERO extra passes (still ONE
    partial-agg shuffle; the predicates are map-side CASE inputs in
    the same projection)."""
    df = esql(spark, sf_dir, ESQL_STATS_WHERE)
    return df.select("l_linestatus", "n", "n_ret",
                     F.round("rev_ret", 6).alias("rev_ret"), "hi_disc",
                     F.round("avg_ret", 6).alias("avg_ret"))

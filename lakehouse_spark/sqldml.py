"""SQL DML routing for :class:`~lakehouse_spark.catalog.LakeCatalog`.

Round 8 gave the catalog a SQL-by-name READ surface; this module closes
the write half: ``cat.sql("DELETE FROM events WHERE day = 'd1'")`` routes
to the owning :class:`~lakehouse_spark.mutation.store.TableStore`'s
transactional DML (delete_where / update / merge / append) instead of
failing in Spark's parser (temp views are not writable relations). The
reference mutates every entity by name through its API
(amplifier_library/sessions/manager.py:422-452 cascade delete;
amplifierd/routers/sessions.py CRUD — read, not copied); a Spark user of
a name-addressed catalog expects ``INSERT/UPDATE/DELETE/MERGE INTO
<name>`` to work the same way.

Supported statements (the subset the store's DML surface expresses; an
unsupported shape raises ValueError with directions, never silently
misparses):

- ``INSERT INTO name [(cols)] VALUES (...), ...`` and
  ``INSERT INTO name [(cols)] SELECT ...`` → ``TableStore.append``
  (positional column mapping, store-assignment casts);
  ``INSERT OVERWRITE [TABLE] name ...`` → ``TableStore.overwrite``
  (full replace, Delta's partition-spec-less INSERT OVERWRITE);
- ``DELETE FROM name WHERE cond`` → ``TableStore.delete_where`` — the
  WHERE's prunable conjuncts (``col = lit``, ``col >=/<=/>/< lit``,
  ``col BETWEEN a AND b``, ``col IN (...)``) are additionally extracted
  into the store's stats-predicate dict, so file skipping works exactly
  as it does through the Python API;
- ``UPDATE name SET col = expr, ... [WHERE cond]`` →
  ``TableStore.update`` (same predicate extraction);
- DELETE/UPDATE WHERE clauses may contain SUBQUERY conjuncts (round 10,
  Delta's documented subquery-in-condition surface): ``col [NOT] IN
  (SELECT ...)`` and ``[NOT] EXISTS (SELECT ...)`` as top-level AND
  terms. Subqueries resolve through the catalog (follow_head + inline
  time travel apply). A DELETE whose whole WHERE is a positive
  IN-subquery on the TABLE KEY routes to ``TableStore.delete_keys`` —
  the frame joins distributed with key-stats segment skipping (the
  reference's cascade delete as SQL); other shapes inline the bounded
  value set as literals so file skipping and row-exact re-application
  work unchanged. Correlated subqueries raise with directions;
- ``MERGE INTO name [AS] t USING (subquery)|source_name [AS] s
  ON t.<key> = s.<key>
  [WHEN MATCHED [AND cond] THEN DELETE]
  [WHEN MATCHED [AND cond] THEN UPDATE SET * | SET c = s.c, ...]
  [WHEN NOT MATCHED THEN INSERT *]`` → ``TableStore.merge``.

Every route commits through the store's optimistic transaction —
snapshot-conflict detection, deletion-vector modes untouched, CDF rows
identical to the equivalent Python call (pytest-pinned in
tests/test_sql_dml.py). After a successful mutation the catalog's view of
the table is refreshed to the new head (pinned ``version=``/``as_of=``
registrations are never mutable through SQL — that would edit history).

Results come back as a one-row DataFrame ``(op, table, affected_rows)``
(affected_rows = -1 where the store API doesn't report a count), mirroring
Delta's DML metrics output.

The MAINTENANCE half of Delta's SQL surface routes here too (is_util /
route_util): ``DESCRIBE HISTORY|DETAIL <name>``, ``VACUUM <name> [RETAIN n
VERSIONS] [DRY RUN]``, ``OPTIMIZE <name> [ZORDER BY (cols)]``, and
``RESTORE <name> TO VERSION AS OF n | TO TIMESTAMP AS OF '<ts>'`` — each a
thin parse over the corresponding TableStore method, returning its metrics
as a DataFrame. Plain ``DESCRIBE <name>`` stays with Spark's parser.
Round 9 additions: ``ALTER TABLE <name> RENAME COLUMN a TO b | DROP
COLUMN c | ADD CONSTRAINT nm CHECK (expr) | DROP CONSTRAINT nm`` (the
store's logical-schema plane; other ALTER forms and non-catalog names
fall through to Spark) and ``CREATE [OR REPLACE] TABLE <name> [KEY k]
[PARTITIONED BY (cols)] LOCATION '<path>' AS <select>`` (CTAS into a new
TableStore root, registered under <name>). Inline SELECT-side time travel
lives in the catalog's pre-pass (catalog._rewrite_time_travel), not here.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_spark.session import local_frame

_DML_HEAD = re.compile(r"^\s*(INSERT|UPDATE|DELETE|MERGE)\b", re.I)


def is_dml(query: str) -> bool:
    return bool(_DML_HEAD.match(query))


# -- lexing helpers ----------------------------------------------------------


def _split_top(text: str, sep_word: str | None = None) -> list[str]:
    """Split on top-level commas (sep_word=None) or a top-level keyword
    (e.g. "AND"), respecting parentheses, single-quoted strings, and the
    AND that belongs to a BETWEEN ... AND ... expression."""
    parts: list[str] = []
    depth = 0
    i = 0
    start = 0
    n = len(text)
    word = sep_word.upper() if sep_word else None
    pending_between = False

    def _is_word_at(idx: int, w: str) -> bool:
        if text[idx : idx + len(w)].upper() != w:
            return False
        before = text[idx - 1] if idx else " "
        after = text[idx + len(w)] if idx + len(w) < n else " "
        return not (before.isalnum() or before == "_") and not (
            after.isalnum() or after == "_"
        )

    while i < n:
        c = text[i]
        if c == "'":
            i += 1
            while i < n:
                if text[i] == "'" and i + 1 < n and text[i + 1] == "'":
                    i += 2  # escaped quote
                elif text[i] == "'":
                    break
                else:
                    i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            if word is None and c == ",":
                parts.append(text[start:i])
                start = i + 1
            elif word is not None:
                if _is_word_at(i, "BETWEEN"):
                    pending_between = True
                    i += len("BETWEEN")
                    continue
                if pending_between and _is_word_at(i, "AND"):
                    # the AND of BETWEEN lo AND hi belongs to the term —
                    # and ONLY an AND closes the BETWEEN. (When splitting
                    # on OR, letting pending_between swallow the first OR
                    # instead silently merged "x BETWEEN a AND b OR c"
                    # into one part, defeating the top-level-OR guard.)
                    pending_between = False
                    i += len("AND")
                    continue
                if _is_word_at(i, word):
                    parts.append(text[start:i])
                    start = i + len(word)
                    i += len(word)
                    continue
        i += 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


_NUM_RE = re.compile(r"^[+-]?\d+(\.\d+)?([eE][+-]?\d+)?$")
_STR_RE = re.compile(r"^'((?:[^']|'')*)'$", re.S)
_TEMPORAL_RE = re.compile(r"^(?:DATE|TIMESTAMP)\s*'([^']*)'$", re.I)
_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


def _backslash_escapes_on(spark) -> bool:
    """Whether Spark's parser processes backslash escapes in string
    literals — true under the DEFAULT conf
    (spark.sql.parser.escapedStringLiterals=false). The literal writer
    (_sql_literal) and reader (_literal) must both follow it, or a DML
    over backslash-bearing strings targets the wrong rows."""
    try:
        return (
            str(
                spark.conf.get(
                    "spark.sql.parser.escapedStringLiterals", "false"
                )
            ).lower()
            != "true"
        )
    except Exception:
        return True


class _UndecodableEscape(ValueError):
    """An escape form whose cross-engine value we can't reproduce exactly
    (lone surrogate halves). The caller DECLINES to extract the conjunct —
    no pruning from it, the row-exact WHERE still applies — rather than
    prune with a value that differs from what Spark compares."""


def _unescape_backslashes(s: str) -> str:
    r"""Decode backslash escapes the way Spark's default parser does
    (ParserUtils.unescapeSQLString): named escapes map to their control
    character, ``\%``/``\_`` keep the backslash (LIKE-pattern escapes),
    any other escaped char drops the backslash."""
    if "\\" not in s:
        return s
    named = {
        "0": "\0", "'": "'", '"': '"', "b": "\b", "n": "\n",
        "r": "\r", "t": "\t", "Z": "\x1a", "\\": "\\",
    }
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            nxt = s[i + 1]
            # \uXXXX (exactly 4 STRICT hex — int() alone also accepts
            # whitespace/'+'/'_' forms Spark leaves undecoded) — probed
            # against Spark 4.1: '\u0041' -> 'A', '\u004x' stays.
            if nxt == "u" and i + 6 <= n:
                hexs = s[i + 2 : i + 6]
                if all(ch in "0123456789abcdefABCDEF" for ch in hexs):
                    cp = int(hexs, 16)
                    if 0xD800 <= cp <= 0xDBFF:
                        # High surrogate: Spark (a JVM) pairs it with a
                        # following \uDC00-\uDFFF into ONE astral code
                        # point; lone Python surrogates would compare
                        # differently from manifest-stats strings.
                        j = i + 6
                        if (
                            j + 6 <= n
                            and s[j] == "\\"
                            and s[j + 1] == "u"
                            and all(
                                ch in "0123456789abcdefABCDEF"
                                for ch in s[j + 2 : j + 6]
                            )
                            and 0xDC00 <= int(s[j + 2 : j + 6], 16) <= 0xDFFF
                        ):
                            lo = int(s[j + 2 : j + 6], 16)
                            out.append(
                                chr(
                                    0x10000
                                    + ((cp - 0xD800) << 10)
                                    + (lo - 0xDC00)
                                )
                            )
                            i = j + 6
                            continue
                        raise _UndecodableEscape(s)
                    if 0xDC00 <= cp <= 0xDFFF:
                        raise _UndecodableEscape(s)  # lone low surrogate
                    out.append(chr(cp))
                    i += 6
                    continue
            # \DDD: exactly 3 octal digits, first 0-1 (probed: \101->'A',
            # \177->DEL, \200 and \377 stay undecoded, \10 stays).
            if nxt in "01" and i + 4 <= n:
                octs = s[i + 1 : i + 4]
                if all(ch in "01234567" for ch in octs):
                    out.append(chr(int(octs, 8)))
                    i += 4
                    continue
            if nxt in named:
                out.append(named[nxt])
            elif nxt in "%_":
                out.append("\\" + nxt)
            else:
                out.append(nxt)
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _literal(tok: str, backslash_escapes: bool = True):
    """Parse a SQL literal into the store-predicate value domain (numbers,
    strings; DATE/TIMESTAMP literals degrade to their ISO string, which is
    how the manifest stores partition values). Returns (ok, value).
    ``backslash_escapes`` mirrors the session parser: the predicate value
    must equal what F.expr's parse of the SAME literal compares against,
    or stats/bloom pruning and the extracted-predicate conjunct silently
    miss the matching rows."""
    tok = tok.strip()
    if _NUM_RE.match(tok):
        # Integer-shaped tokens parse as int DIRECTLY — routing through
        # float silently corrupts values above 2^53 (64-bit ids), and a
        # corrupted bound makes stats pruning skip the matching file.
        if "." not in tok and "e" not in tok.lower():
            return True, int(tok)
        return True, float(tok)
    m = _STR_RE.match(tok)
    if m:
        v = m.group(1).replace("''", "'")
        if backslash_escapes:
            try:
                v = _unescape_backslashes(v)
            except _UndecodableEscape:
                return False, None  # conjunct not extracted; WHERE exact
        return True, v
    m = _TEMPORAL_RE.match(tok)
    if m:
        return True, m.group(1)
    return False, None


def extract_predicate(where: str, backslash_escapes: bool = True) -> dict:
    """Prunable conjuncts of a WHERE clause as the store's stats-predicate
    dict — BEST-EFFORT and conservative: a conjunct that doesn't match one
    of the simple shapes is simply not extracted (the full WHERE is always
    re-applied row-exactly by the DML path, so extraction can only ever
    SKIP more files, never change results). Strict bounds widen to closed
    ones for the same reason.

    A TOP-LEVEL OR disables extraction entirely: SQL precedence makes
    ``A AND B OR C`` mean ``(A AND B) OR C``, so treating A as a standalone
    conjunct would prune files that only match C — unsound (silently
    undeleted/unupdated rows). Parenthesized ORs inside a conjunct are fine
    (the conjunct just fails the simple-shape match and is skipped)."""
    if len(_split_top(where, "OR")) > 1:
        return {}
    out: dict = {}

    def _merge_range(col: str, lo=None, hi=None):
        cur = out.get(col)
        cur_lo, cur_hi = cur if isinstance(cur, tuple) else (None, None)
        if lo is not None:
            cur_lo = lo if cur_lo is None else max(cur_lo, lo)
        if hi is not None:
            cur_hi = hi if cur_hi is None else min(cur_hi, hi)
        out[col] = (cur_lo, cur_hi)

    for conj in _split_top(where, "AND"):
        m = re.match(
            rf"^({_IDENT})\s*(=|>=|<=|>|<)\s*(.+)$", conj.strip(), re.S
        )
        if m:
            ok, v = _literal(m.group(3), backslash_escapes)
            if not ok:
                continue
            col, op = m.group(1), m.group(2)
            if col in out and not isinstance(out[col], tuple):
                continue  # already an IN/equality; keep the tighter form
            if op == "=":
                if col not in out:
                    out[col] = v
            elif op in (">=", ">"):
                _merge_range(col, lo=v)
            else:
                _merge_range(col, hi=v)
            continue
        m = re.match(
            rf"^({_IDENT})\s+BETWEEN\s+(.+?)\s+AND\s+(.+)$",
            conj.strip(),
            re.I | re.S,
        )
        if m:
            ok1, lo = _literal(m.group(2), backslash_escapes)
            ok2, hi = _literal(m.group(3), backslash_escapes)
            if ok1 and ok2:
                _merge_range(m.group(1), lo=lo, hi=hi)
            continue
        m = re.match(
            rf"^({_IDENT})\s+IN\s*\((.+)\)$", conj.strip(), re.I | re.S
        )
        if m and m.group(1) not in out:
            vals = []
            good = True
            for tok in _split_top(m.group(2)):
                ok, v = _literal(tok, backslash_escapes)
                if not ok:
                    good = False
                    break
                vals.append(v)
            if good and vals:
                out[m.group(1)] = vals
    return out


# -- routing -----------------------------------------------------------------


def _result(spark, op: str, table: str, affected: int) -> DataFrame:
    """The statement's one-row result (a LocalRelation: collecting it runs
    no Spark job)."""
    return local_frame(
        spark,
        [(op, table, affected)],
        "op string, table string, affected_rows long",
    )


def _writable_store(cat, name: str):
    store, opts = cat._entry(name)
    if store is None:
        raise ValueError(
            f"{name!r} is a DataFrame/testdata view — SQL DML needs a "
            "TableStore-backed registration (register(name, store=...))"
        )
    if opts.get("version") is not None or opts.get("as_of") is not None:
        raise ValueError(
            f"{name!r} is pinned to an explicit version/as_of snapshot; "
            "DML through a time-travel view would edit history — register "
            "the head (no version=) to mutate"
        )
    if opts.get("changes"):
        raise ValueError(f"{name!r} is a change-feed view; it is read-only")
    return store


def _refresh_after(cat, name: str) -> None:
    try:
        cat.refresh(name)
    except Exception:
        pass  # view refresh is a convenience; the commit already landed


def route(cat, query: str) -> DataFrame:
    """Dispatch one DML statement against the catalog. ``cat`` is the
    LakeCatalog (gives name→store resolution and the SparkSession)."""
    verb = _DML_HEAD.match(query).group(1).upper()
    q = query.strip().rstrip(";").strip()
    # Route only statements whose target is a CATALOG registration.
    # Dotted/backticked names and unknown identifiers belong to Spark's
    # own catalog — pass them through untouched (same fall-through the
    # ALTER branch of route_util uses) instead of hijacking them into
    # shape errors.
    target_pat = {
        "INSERT": r"^INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?"
        r"([A-Za-z_][\w.]*|`[^`]+`)",
        "DELETE": r"^DELETE\s+FROM\s+([A-Za-z_][\w.]*|`[^`]+`)",
        "UPDATE": r"^UPDATE\s+([A-Za-z_][\w.]*|`[^`]+`)",
        "MERGE": r"^MERGE\s+INTO\s+([A-Za-z_][\w.]*|`[^`]+`)",
    }[verb]
    tm = re.match(target_pat, q, re.I)
    if not tm or tm.group(1) not in cat._entries:
        # The pre-passes still apply: a Spark-native INSERT target can
        # SELECT from registered follow_head / time-travel names, and
        # those reads keep the same contract as any other cat.sql read.
        cat._refresh_followers(query)
        return cat.spark.sql(cat._rewrite_time_travel(query))
    if verb == "INSERT":
        return _insert(cat, q)
    if verb == "DELETE":
        return _delete(cat, q)
    if verb == "UPDATE":
        return _update(cat, q)
    return _merge(cat, q)


def _insert(cat, q: str) -> DataFrame:
    m = re.match(
        rf"^INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?({_IDENT})\s*"
        r"(?:\(([^)]*)\)\s*)?"
        r"(VALUES\b.*|SELECT\b.*|TABLE\b.*)$",
        q,
        re.I | re.S,
    )
    if not m:
        raise ValueError(
            "unsupported INSERT shape; use INSERT INTO|OVERWRITE <name> "
            "[(cols)] VALUES (...) | SELECT ..."
        )
    mode, name, collist, body = (
        m.group(1).upper(),
        m.group(2),
        m.group(3),
        m.group(4),
    )
    store = _writable_store(cat, name)
    spark = cat.spark
    if body.upper().startswith("VALUES"):
        src = spark.sql(f"SELECT * FROM {body}")
    else:
        # Through cat.sql, not raw spark.sql: the SELECT body then gets
        # follow_head re-resolution and inline VERSION/TIMESTAMP AS OF,
        # the same contract every read through the catalog has.
        src = cat.sql(body)
    tschema = store.read().schema  # one plan build serves columns + types
    target = (
        [c.strip() for c in collist.split(",")]
        if collist
        else list(tschema.names)
    )
    # An explicit column list must name real table columns (Delta raises
    # an analysis error for unknown INSERT columns). Without this, the
    # OVERWRITE null-fill's final `.select(*tschema.names)` would
    # silently DROP the unknown column's data instead of erroring.
    unknown = [c for c in target if c not in tschema.names]
    if collist and unknown:
        raise ValueError(
            f"INSERT column list names column(s) not in {name}'s schema: "
            f"{unknown}; table columns are {list(tschema.names)}"
        )
    if len(src.columns) != len(target):
        raise ValueError(
            f"INSERT provides {len(src.columns)} column(s) but the target "
            f"list has {len(target)}: {target}"
        )
    src = src.toDF(*target)
    # Store-assignment casts (INSERT adapts values to the table schema;
    # genuinely incompatible types still fail the append's enforcement).
    ttypes = {f.name: f.dataType for f in tschema}
    src = src.select(
        *[
            F.col(c).cast(ttypes[c]).alias(c) if c in ttypes else F.col(c)
            for c in src.columns
        ]
    )
    if mode == "OVERWRITE":
        # NULL-fill unlisted table columns (Delta's INSERT OVERWRITE with
        # a column list): overwrite() is full CREATE OR REPLACE, so a
        # partial column list would otherwise silently DROP every
        # unlisted column from the table schema. Appends don't need this
        # — a narrow segment null-fills at read time by schema union.
        missing = [c for c in tschema.names if c not in src.columns]
        if missing:
            src = src.select(
                "*",
                *[
                    F.lit(None).cast(ttypes[c]).alias(c) for c in missing
                ],
            ).select(*tschema.names)
    src = src.persist()
    try:
        n = src.count()
        if mode == "OVERWRITE":
            # Full-replace semantics (Delta's INSERT OVERWRITE without a
            # partition spec): the new version holds exactly the source.
            store.overwrite(src)
        else:
            store.append(src)
    finally:
        src.unpersist()
    _refresh_after(cat, name)
    return _result(spark, f"INSERT {mode}" if mode == "OVERWRITE" else "INSERT", name, n)


_QUOTED_RE = re.compile(r"'(?:[^']|'')*'")
# Above this many distinct subquery values the inline rewrite would hand
# Catalyst a giant literal IN-list (and collect them all to the driver
# first) — the scale path for key-set deletes is delete_keys, which joins
# the frame distributed.
_SUBQ_INLINE_CAP = 10_000


def _mask_quotes(text: str) -> str:
    """Blank the CONTENT of string literals (keeping length/quotes) so
    structural regex scans can't match inside them."""
    return _QUOTED_RE.sub(
        lambda m: "'" + " " * (len(m.group(0)) - 2) + "'", text
    )


def has_where_subquery(where: str | None) -> bool:
    return bool(where) and bool(
        re.search(r"\(\s*SELECT\b", _mask_quotes(where), re.I)
    )


def _sql_literal(v, backslash_escapes: bool = True) -> str:
    """A Python value (as collected from a subquery row) back to a SQL
    literal for the inline rewrite. Strings escape quotes; temporal types
    use typed literals so comparisons keep their semantics.
    ``backslash_escapes`` mirrors the session parser (see
    _backslash_escapes_on): double backslashes only when the parser will
    process them back."""
    import datetime as _dt
    import decimal as _dec

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        # repr() of non-finite floats ('nan'/'inf') reads as a column
        # identifier in SQL — use the typed cast Spark parses (and which
        # keeps Spark's NaN-equals-NaN IN semantics).
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if v == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, _dec.Decimal):
        return str(v)
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    # Spark's default parser (escapedStringLiterals=false) interprets
    # backslash escapes inside string literals, so a raw backslash must be
    # doubled BEFORE quote-doubling — otherwise 'a\nb' round-trips to a
    # newline and a trailing backslash makes the rewritten WHERE
    # unparseable. Under escapedStringLiterals=true backslashes are
    # literal and must NOT be doubled.
    s = str(v)
    if backslash_escapes:
        s = s.replace("\\", "\\\\")
    s = s.replace("'", "''")
    return f"'{s}'"


def _parse_where_term(term: str):
    """Classify one top-level AND conjunct: ("plain", text) — no subquery;
    ("in", col, subsql, negated) — ``col [NOT] IN (SELECT ...)``;
    ("exists", subsql, negated) — ``[NOT] EXISTS (SELECT ...)``. Any
    OTHER conjunct containing a subquery raises (never misparses): the
    supported grammar is Delta's documented DELETE/UPDATE-with-subquery
    surface, as top-level AND conjuncts."""
    if not re.search(r"\(\s*SELECT\b", _mask_quotes(term), re.I):
        return ("plain", term)
    m = re.match(rf"^({_IDENT})\s+(NOT\s+)?IN\s*\(", term, re.I)
    if m:
        start = m.end() - 1
        end = start + _balanced_paren(term[start:])
        if term[end:].strip():
            raise ValueError(
                f"unsupported trailing text after IN-subquery in {term!r}"
            )
        inner = term[start + 1 : end - 1].strip()
        if re.match(r"^SELECT\b", inner, re.I):
            return ("in", m.group(1), inner, bool(m.group(2)))
    m = re.match(r"^(NOT\s+)?EXISTS\s*\(", term, re.I)
    if m:
        start = m.end() - 1
        end = start + _balanced_paren(term[start:])
        if term[end:].strip():
            raise ValueError(
                f"unsupported trailing text after EXISTS in {term!r}"
            )
        inner = term[start + 1 : end - 1].strip()
        return ("exists", inner, bool(m.group(1)))
    raise ValueError(
        f"unsupported subquery shape in WHERE conjunct {term!r}; "
        "supported: col [NOT] IN (SELECT ...) and [NOT] EXISTS "
        "(SELECT ...) as top-level AND conjuncts"
    )


def _subquery_values(cat, subsql: str) -> list:
    """Evaluate an uncorrelated single-column subquery through the
    catalog (follow_head and inline time travel apply) to a bounded list
    of distinct values."""
    sub = cat.sql(subsql)
    if len(sub.columns) != 1:
        raise ValueError(
            f"IN subquery must return exactly one column, got {sub.columns}"
        )
    rows = sub.distinct().limit(_SUBQ_INLINE_CAP + 1).collect()
    if len(rows) > _SUBQ_INLINE_CAP:
        raise ValueError(
            f"IN-subquery value set exceeds {_SUBQ_INLINE_CAP} distinct "
            "values; at that scale route the frame through the Python API "
            "(TableStore.delete_keys joins it distributed) — DELETE with "
            "the subquery column as the table key does this automatically"
        )
    return [r[0] for r in rows]


def _eval_exists(cat, subsql: str) -> bool:
    try:
        return cat.sql(subsql).limit(1).count() > 0
    except Exception as ex:  # noqa: BLE001 — add routing context
        # Only blame correlation when the failure IS an unresolved
        # column — a typo'd table or bad syntax should surface as
        # itself, not steer the user into rewriting a valid condition.
        s = str(ex)
        hint = (
            " (likely a correlated subquery, which is not supported — "
            "rewrite the condition as col IN (SELECT ...))"
            if "UNRESOLVED_COLUMN" in s or "cannot resolve" in s.lower()
            else ""
        )
        raise ValueError(
            "EXISTS subquery failed to evaluate independently: "
            f"{type(ex).__name__}: {s.splitlines()[0][:200]}{hint}"
        ) from ex


def _inline_where_subqueries(
    cat, where: str, bs: bool | None = None
) -> tuple[str | None, bool]:
    """Rewrite every subquery conjunct of ``where`` into literal form:
    IN-subqueries become inline IN-lists (so extract_predicate recovers
    file skipping and delete_where/update re-apply the condition
    row-exactly), EXISTS terms fold to constants. Returns
    ``(rewritten_where, provably_empty)`` — provably_empty means no row
    can satisfy the WHERE (e.g. NOT IN over a NULL-bearing set, SQL's
    three-valued semantics) and the DML affects zero rows.

    Substitution is strictly IN PLACE — each AND-split part is rewritten
    to a constant or literal form and the parts are rejoined with the
    same " AND " tokens the split removed, so the string round-trips and
    SQL precedence is preserved even when another part carries a
    top-level OR (``sub AND a OR b`` means ``(sub AND a) OR b``: a
    never-true subquery there must become a literal FALSE factor, NOT a
    whole-statement short-circuit — the OR branch still matches rows).
    The affects-zero-rows fast path applies only when no part has a
    top-level OR, where a FALSE conjunct really does kill the WHERE."""
    if bs is None:
        bs = _backslash_escapes_on(cat.spark)
    parts: list[str] = []
    has_or = False
    for term in _split_top(where, "AND"):
        if len(_split_top(term, "OR")) > 1:
            has_or = True
        parsed = _parse_where_term(term)
        if parsed[0] == "plain":
            parts.append(term)
            continue
        if parsed[0] == "exists":
            _, subsql, neg = parsed
            nonempty = _eval_exists(cat, subsql)
            truth = (not nonempty) if neg else nonempty
            parts.append("TRUE" if truth else "FALSE")
            continue
        _, col, subsql, neg = parsed
        vals = _subquery_values(cat, subsql)
        if not neg:
            vals = [v for v in vals if v is not None]  # NULL never IN-matches
            if not vals:
                parts.append("FALSE")
                continue
            lits = ", ".join(_sql_literal(v, bs) for v in vals)
            parts.append(f"{col} IN ({lits})")
        else:
            if any(v is None for v in vals):
                # x NOT IN (set containing NULL) is never TRUE (NULL or
                # FALSE for every x) — a constant-FALSE factor.
                # Delta/Spark's documented NOT IN semantics.
                parts.append("FALSE")
            elif vals:
                lits = ", ".join(_sql_literal(v, bs) for v in vals)
                parts.append(
                    f"({col} IS NOT NULL AND {col} NOT IN ({lits}))"
                )
            else:
                # NOT IN over an EMPTY set is TRUE for every x.
                parts.append("TRUE")
    if not has_or and "FALSE" in parts:
        return None, True
    return (" AND ".join(parts) if parts else "TRUE"), False


def _delete(cat, q: str) -> DataFrame:
    m = re.match(
        rf"^DELETE\s+FROM\s+({_IDENT})\s*(?:WHERE\s+(.+))?$", q, re.I | re.S
    )
    if not m:
        raise ValueError("unsupported DELETE shape; use DELETE FROM <name> WHERE <cond>")
    name, where = m.group(1), m.group(2)
    store = _writable_store(cat, name)
    bs = _backslash_escapes_on(cat.spark)  # one conf read per statement
    if where is None:
        raise ValueError(
            "DELETE with no WHERE would drop every row; use "
            "store.overwrite() with an empty frame if that is really meant"
        )
    if has_where_subquery(where):
        terms = [_parse_where_term(t) for t in _split_top(where, "AND")]
        if (
            len(terms) == 1
            and terms[0][0] == "in"
            and not terms[0][3]
            and terms[0][1] == store.key
        ):
            # The reference's cascade delete as SQL (an id-set delete,
            # amplifier_library/sessions/manager.py:422-452): a single
            # positive IN-subquery on the TABLE KEY routes to
            # delete_keys, which joins the frame DISTRIBUTED (key-stats
            # segment skipping, no driver materialization) — the scale
            # path for arbitrarily large key sets.
            keys = cat.sql(terms[0][2])
            if len(keys.columns) != 1:
                raise ValueError(
                    "IN subquery must return exactly one column, got "
                    f"{keys.columns}"
                )
            n = store.delete_keys(keys.toDF(store.key))
            _refresh_after(cat, name)
            return _result(cat.spark, "DELETE", name, n)
        where, empty = _inline_where_subqueries(cat, where, bs=bs)
        if empty:
            return _result(cat.spark, "DELETE", name, 0)
    pred = extract_predicate(where, bs)
    n = store.delete_where(where=where, predicate=pred or None)
    _refresh_after(cat, name)
    return _result(cat.spark, "DELETE", name, n)


def _update(cat, q: str) -> DataFrame:
    m = re.match(
        rf"^UPDATE\s+({_IDENT})\s+SET\s+(.+?)(?:\s+WHERE\s+(.+))?$",
        q,
        re.I | re.S,
    )
    if not m:
        raise ValueError(
            "unsupported UPDATE shape; use UPDATE <name> SET c = expr, ... "
            "[WHERE <cond>]"
        )
    name, set_text, where = m.group(1), m.group(2), m.group(3)
    store = _writable_store(cat, name)
    bs = _backslash_escapes_on(cat.spark)  # one conf read per statement
    assignments: dict[str, str] = {}
    for item in _split_top(set_text):
        am = re.match(rf"^({_IDENT})\s*=\s*(.+)$", item, re.S)
        if not am:
            raise ValueError(f"cannot parse SET assignment {item!r}")
        assignments[am.group(1)] = am.group(2).strip()
    if where and has_where_subquery(where):
        terms = [_parse_where_term(t) for t in _split_top(where, "AND")]
        key_ins = [
            i
            for i, t in enumerate(terms)
            if t[0] == "in" and not t[3] and t[1] == store.key
        ]
        others_plain = all(
            t[0] == "plain" for i, t in enumerate(terms) if i not in key_ins[:1]
        )
        # A top-level OR in any AND-split part means the textual split is
        # NOT a real conjunction (``sub AND a OR b`` is ``(sub AND a) OR
        # b``) — extracting the IN term would change semantics. The inline
        # route below handles that case with in-place substitution.
        no_top_or = all(
            len(_split_top(t, "OR")) == 1 for t in _split_top(where, "AND")
        )
        if key_ins and others_plain and no_top_or:
            # Distributed route (round-11 ask #3, the UPDATE analog of the
            # DELETE key-route above): a positive IN-subquery on the TABLE
            # KEY becomes update(keys=frame) — matched rows found by a
            # semi-join that never collects the key set to the driver, so
            # there is NO inline-literal cap; remaining plain conjuncts
            # ride along as the row filter, and the targeted rewrite keeps
            # key-stats file skipping. Delta's UPDATE-with-subquery shape.
            # Column-mapped tables take this route too (round-12 ask #4):
            # the key column can never be renamed (_guard_col_mutation),
            # and update()/read() speak logical names end-to-end — the
            # read path translates predicates to physical internally.
            idx = key_ins[0]
            keys = cat.sql(terms[idx][2])
            if len(keys.columns) != 1:
                raise ValueError(
                    "IN subquery must return exactly one column, got "
                    f"{keys.columns}"
                )
            rest = [
                t
                for i, t in enumerate(_split_top(where, "AND"))
                if i != idx
            ]
            rest_where = " AND ".join(rest) if rest else None
            pred = extract_predicate(rest_where, bs) if rest_where else {}
            n = store.update(
                set=assignments,
                where=rest_where,
                predicate=pred or None,
                keys=keys.toDF(store.key),
            )
            _refresh_after(cat, name)
            return _result(cat.spark, "UPDATE", name, n)
        where, empty = _inline_where_subqueries(cat, where, bs=bs)
        if empty:
            return _result(cat.spark, "UPDATE", name, 0)
    pred = extract_predicate(where, bs) if where else {}
    n = store.update(
        set=assignments, where=where, predicate=pred or None
    )
    _refresh_after(cat, name)
    return _result(cat.spark, "UPDATE", name, n)


def _balanced_paren(text: str) -> int:
    """Index just past the ')' balancing text[0] == '(' (quote-aware).
    Raises ValueError on unbalanced input."""
    depth = 0
    i = 0
    n = len(text)
    while i < n:
        c = text[i]
        if c == "'":
            i += 1
            while i < n:
                if text[i] == "'" and i + 1 < n and text[i + 1] == "'":
                    i += 2
                elif text[i] == "'":
                    break
                else:
                    i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError("unbalanced parentheses in MERGE USING clause")


def _merge(cat, q: str) -> DataFrame:
    shape_err = ValueError(
        "unsupported MERGE shape; use MERGE INTO <name> [AS t] USING "
        "(<subquery>)|<name> [AS s] ON t.<key> = s.<key> WHEN ..."
    )
    head = re.match(
        rf"^MERGE\s+INTO\s+({_IDENT})(?:\s+AS)?"
        rf"(?:\s+(?!USING\b)({_IDENT}))?\s+USING\s+",
        q,
        re.I | re.S,
    )
    if not head:
        raise shape_err
    name, talias = head.group(1), head.group(2)
    rest = q[head.end():]
    if rest.startswith("("):
        # Balanced-paren scan: a subquery source routinely nests parens
        # (VALUES lists, function calls) that a non-greedy regex would
        # truncate at the first ')'.
        j = _balanced_paren(rest)
        src_text, rest = rest[:j], rest[j:]
    else:
        sm = re.match(rf"({_IDENT})", rest)
        if not sm:
            raise shape_err
        src_text, rest = sm.group(1), rest[sm.end():]
    m = re.match(
        rf"^\s*(?:AS\s+)?(?:(?!ON\b)({_IDENT})\s+)?"
        r"ON\s+(.+?)\s+(WHEN\s+.+)$",
        rest,
        re.I | re.S,
    )
    if not m:
        raise shape_err
    salias, on_text, clauses_text = m.groups()
    talias = talias or name
    store = _writable_store(cat, name)
    spark = cat.spark
    if src_text.startswith("("):
        # cat.sql so the subquery source honors follow_head and inline
        # time travel, like every other read through the catalog.
        source = cat.sql(src_text[1:-1])
        salias = salias or "s"
    else:
        salias = salias or src_text
        source = cat.table(src_text)
    key = store.key
    on_ok = re.match(
        rf"^\s*({_IDENT})\.({_IDENT})\s*=\s*({_IDENT})\.({_IDENT})\s*$",
        on_text,
    )
    pairs = (
        {(on_ok.group(1), on_ok.group(2)), (on_ok.group(3), on_ok.group(4))}
        if on_ok
        else set()
    )
    if not on_ok or pairs != {(talias, key), (salias, key)}:
        raise ValueError(
            f"MERGE ON must be the key equi-join {talias}.{key} = "
            f"{salias}.{key} (the store's MERGE contract); got {on_text!r}"
        )

    def _rewrite_aliases(cond: str) -> str:
        # store.merge evaluates conditions over t.<col> / s.<col>. Two
        # phases through NUL-fenced placeholders: a user alias of literal
        # 't' or 's' would otherwise collide with the canonical prefixes
        # (USING src AS t → step 1's output 't.' must not be re-rewritten
        # to 's.' by step 2).
        cond = re.sub(rf"\b{re.escape(talias)}\.", "\x00T\x00.", cond)
        cond = re.sub(rf"\b{re.escape(salias)}\.", "\x00S\x00.", cond)
        return cond.replace("\x00T\x00.", "t.").replace("\x00S\x00.", "s.")

    update_cols = None
    update_cond = None
    delete_cond = None
    insert = False
    has_update = False
    clause_re = re.compile(
        r"WHEN\s+(NOT\s+)?MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+"
        r"(DELETE|INSERT\s*\*|UPDATE\s+SET\s+.+?)"
        r"(?=\s+WHEN\s+|\s*$)",
        re.I | re.S,
    )
    matched_any = False
    for cm in clause_re.finditer(clauses_text):
        matched_any = True
        not_matched, cond, action = cm.groups()
        action_u = action.strip().upper()
        if not_matched:
            if cond is not None:
                raise ValueError(
                    "WHEN NOT MATCHED AND <cond> is not supported by the "
                    "store's MERGE; filter the source instead"
                )
            if not action_u.startswith("INSERT"):
                raise ValueError("WHEN NOT MATCHED supports only INSERT *")
            insert = True
            continue
        if action_u == "DELETE":
            delete_cond = _rewrite_aliases(cond) if cond else "true"
            continue
        # UPDATE SET ...
        has_update = True
        if cond is not None:
            update_cond = _rewrite_aliases(cond)
        set_text = re.sub(r"^UPDATE\s+SET\s+", "", action.strip(), flags=re.I)
        if set_text.strip() == "*":
            update_cols = None
        else:
            update_cols = []
            for item in _split_top(set_text):
                am = re.match(
                    rf"^(?:{re.escape(talias)}\.)?({_IDENT})\s*=\s*"
                    rf"{re.escape(salias)}\.({_IDENT})\s*$",
                    item,
                    re.S,
                )
                if not am or am.group(1) != am.group(2):
                    raise ValueError(
                        f"MERGE UPDATE SET supports 'c = {salias}.c' "
                        f"assignments (or SET *); got {item!r}"
                    )
                update_cols.append(am.group(1))
    if not matched_any:
        raise ValueError("MERGE has no parseable WHEN clause")
    if not has_update and not delete_cond and not insert:
        raise ValueError("MERGE needs at least one action clause")
    if not has_update:
        # No UPDATE clause anywhere (insert-only, or conditional DELETE
        # only): suppress updates entirely. store.merge's update_cond=None
        # means "update every matched row" — letting that default through
        # would rewrite matched-but-not-deleted rows the statement never
        # asked to touch.
        update_cond = "false"
    store.merge(
        source,
        update_cols=update_cols,
        update_cond=update_cond,
        delete_cond=delete_cond,
        insert=insert,
    )
    _refresh_after(cat, name)
    return _result(spark, "MERGE", name, -1)


# -- utility statements (Delta's SQL maintenance surface) ---------------------

_UTIL_HEAD = re.compile(
    r"^\s*(DESCRIBE|DESC|VACUUM|OPTIMIZE|RESTORE|ALTER|CREATE)\b", re.I
)

# ALTER TABLE sub-forms this router expresses over the store's logical-
# schema plane (column mapping, CHECK constraints). Anything else (ADD
# COLUMN is write-time additive evolution — just write the column) is not
# claimed, so it falls through to Spark's parser.
_ALTER_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+"
    r"(RENAME\s+COLUMN|DROP\s+COLUMN|ADD\s+CONSTRAINT|DROP\s+CONSTRAINT)\b",
    re.I,
)

# CREATE [OR REPLACE] TABLE <name> [KEY <col>] [PARTITIONED BY (cols)]
# LOCATION '<path>' AS <select> — CTAS materializing into a NEW TableStore
# root and registering it. Other CREATE forms (temp views, real catalog
# tables) stay with Spark.
_CTAS_RE = re.compile(
    rf"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+({_IDENT})"
    rf"(?:\s+KEY\s+({_IDENT}))?"
    r"(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?"
    r"\s+LOCATION\s+'([^']+)'\s+AS\s+(.+)$",
    re.I | re.S,
)


def is_util(query: str) -> bool:
    """Maintenance statements this router handles (Delta's SQL surface:
    DESCRIBE HISTORY/DETAIL, VACUUM, OPTIMIZE [ZORDER BY], RESTORE).
    Plain ``DESCRIBE <name>``/``DESCRIBE TABLE`` stays with Spark."""
    m = _UTIL_HEAD.match(query)
    if not m:
        return False
    head = m.group(1).upper()
    if head in ("DESCRIBE", "DESC"):
        return bool(
            re.match(
                r"^\s*(?:DESCRIBE|DESC)\s+(?:HISTORY|DETAIL)\b", query, re.I
            )
        )
    if head == "ALTER":
        return bool(_ALTER_RE.match(query))
    if head == "CREATE":
        return bool(_CTAS_RE.match(query.strip().rstrip(";")))
    return True


def _json_str(v) -> str:
    import json as _json

    return _json.dumps(v, sort_keys=True, default=str)


def route_util(cat, query: str) -> DataFrame:
    """Dispatch one maintenance statement. Read-only forms (DESCRIBE)
    accept any store-backed registration including pinned snapshots;
    mutating forms (VACUUM / OPTIMIZE / RESTORE) require a head
    registration, exactly like DML."""
    spark = cat.spark
    q = query.strip().rstrip(";").strip()

    m = re.match(
        rf"^(?:DESCRIBE|DESC)\s+(HISTORY|DETAIL)\s+({_IDENT})$", q, re.I
    )
    if m:
        kind, name = m.group(1).upper(), m.group(2)
        store, _opts = cat._entry(name)
        if store is None:
            raise ValueError(
                f"{name!r} is a DataFrame/testdata view; DESCRIBE "
                f"{kind} needs a TableStore-backed registration"
            )
        if kind == "HISTORY":
            rows = [
                (
                    e["version"],
                    e["n_segments"],
                    float(e["committed_at"]) if e["committed_at"] else None,
                    _json_str(e["meta"]),
                    _json_str(e["txn"]),
                )
                for e in store.history()
            ]
            return local_frame(
                spark,
                rows,
                "version long, n_segments long, committed_at double, "
                "meta string, txn string",
            )
        d = store.detail()
        row = (
            d["location"],
            d["version"],
            d["key"],
            d["num_segments"],
            d["num_data_files"],
            d["size_bytes"],
            d["num_deletion_vectors"],
            _json_str(d["constraints"]),
            _json_str(d["partition_by"]),
            d["num_partitions"],
        )
        return local_frame(
            spark,
            [row],
            "location string, version long, key string, num_segments long, "
            "num_data_files long, size_bytes long, "
            "num_deletion_vectors long, constraints string, "
            "partition_by string, num_partitions long",
        )

    m = re.match(
        rf"^VACUUM\s+({_IDENT})"
        r"(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?(\s+DRY\s+RUN)?$",
        q,
        re.I,
    )
    if m:
        name, keep, dry = m.group(1), m.group(2), bool(m.group(3))
        store = _writable_store(cat, name)
        out = store.vacuum(
            keep_last=int(keep) if keep else 2, dry_run=dry
        )
        return local_frame(
            spark,
            [(name, len(out["names"]), out["n_files"], out["bytes"], dry)],
            "table string, entries long, n_files long, bytes long, "
            "dry_run boolean",
        )

    m = re.match(
        rf"^OPTIMIZE\s+({_IDENT})"
        r"(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?$",
        q,
        re.I,
    )
    if m:
        name, zcols = m.group(1), m.group(2)
        store = _writable_store(cat, name)
        if zcols:
            cols = tuple(c.strip() for c in zcols.split(",") if c.strip())
            v = store.compact(zorder_by=cols)
        else:
            v = store.compact()
        _refresh_after(cat, name)
        return local_frame(
            spark,
            [(name, v, store.n_segments())],
            "table string, version long, num_segments long",
        )

    m = re.match(
        rf"^RESTORE\s+(?:TABLE\s+)?({_IDENT})\s+TO\s+"
        r"(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')$",
        q,
        re.I,
    )
    if m:
        name, ver, ts = m.groups()
        store = _writable_store(cat, name)
        v = store.restore(
            version=int(ver) if ver is not None else None,
            as_of=ts,
        )
        _refresh_after(cat, name)
        return local_frame(spark, [(name, v)], "table string, version long")

    if _ALTER_RE.match(q):
        name = _ALTER_RE.match(q).group(1)
        if name not in cat._entries:
            # Not a catalog registration: the user means a real Spark
            # catalog table — hand the statement back to Spark untouched.
            return spark.sql(query)
        store = _writable_store(cat, name)
        for pat, fn, op in (
            (
                rf"^ALTER\s+TABLE\s+{_IDENT}\s+RENAME\s+COLUMN\s+"
                rf"({_IDENT})\s+TO\s+({_IDENT})$",
                lambda g: store.rename_column(g[0], g[1]),
                "rename_column",
            ),
            (
                rf"^ALTER\s+TABLE\s+{_IDENT}\s+DROP\s+COLUMN\s+({_IDENT})$",
                lambda g: store.drop_column(g[0]),
                "drop_column",
            ),
            (
                rf"^ALTER\s+TABLE\s+{_IDENT}\s+ADD\s+CONSTRAINT\s+"
                rf"({_IDENT})\s+CHECK\s*\((.+)\)$",
                lambda g: store.add_constraint(g[0], g[1].strip()),
                "add_constraint",
            ),
            (
                rf"^ALTER\s+TABLE\s+{_IDENT}\s+DROP\s+CONSTRAINT\s+"
                rf"({_IDENT})$",
                lambda g: store.drop_constraint(g[0]),
                "drop_constraint",
            ),
        ):
            m = re.match(pat, q, re.I | re.S)
            if m:
                v = fn(m.groups())
                _refresh_after(cat, name)
                return local_frame(
                    spark, [(name, op, v)], "table string, op string, version long"
                )
        raise ValueError(
            "unsupported ALTER TABLE form; supported: RENAME COLUMN a TO "
            "b, DROP COLUMN c, ADD CONSTRAINT nm CHECK (expr), DROP "
            "CONSTRAINT nm"
        )

    m = _CTAS_RE.match(q)
    if m:
        replace, name, key, pby, path, select = m.groups()
        from lakehouse_spark.mutation.store import TableStore

        if name in cat._entries and not replace:
            raise ValueError(
                f"{name!r} is already registered; use CREATE OR REPLACE "
                "TABLE to redefine it"
            )
        df = cat.sql(select)  # follower refresh + time travel apply
        parts = (
            [c.strip() for c in pby.split(",") if c.strip()] if pby else None
        )
        store = TableStore(
            spark,
            path,
            key=key or "",
            stats_cols=(key,) if key else (),
            partition_by=tuple(parts) if parts else (),
        )
        if store.exists():
            if not replace:
                raise ValueError(
                    f"a table already exists at {path}; use CREATE OR "
                    "REPLACE TABLE to overwrite it"
                )
            store.overwrite(df)
        else:
            store.init(df)
        cat.register(name, store=store)
        return _result(spark, "create_table_as", name, -1)

    raise ValueError(
        "unsupported maintenance statement; supported: DESCRIBE "
        "HISTORY|DETAIL <name>, VACUUM <name> [RETAIN n VERSIONS] [DRY "
        "RUN], OPTIMIZE <name> [ZORDER BY (cols)], RESTORE <name> TO "
        "VERSION AS OF n | TO TIMESTAMP AS OF '<ts>', ALTER TABLE <name> "
        "RENAME/DROP COLUMN | ADD/DROP CONSTRAINT, CREATE [OR REPLACE] "
        "TABLE <name> [KEY k] [PARTITIONED BY (...)] LOCATION '<path>' "
        "AS <select>"
    )

"""SQL DML front-end for the versioned store — MERGE / DELETE / INSERT
statements translating to the store's merge family, so pure-SQL tooling
can WRITE the store (register_store already covers reads).

The reference's callers speak SQL to SQL Server; this store's write
surface was Python-only (merge_into / merge_into_mor), which walls off
every SQL-speaking orchestrator.  ``store_sql(spark, root).sql(...)``
accepts the Delta-Lake-shaped canonical DML forms and routes them to the
same engine paths the Python API uses — identical semantics by
construction (the round-trip parity suite in tests/test_store_sql.py
pins the U1-U3 mode matrix plus delete-incoming against the Python API):

    MERGE [WITH SCHEMA EVOLUTION] INTO t USING s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *        -- U1/U2 full upsert
    MERGE INTO t USING s ON ... WHEN NOT MATCHED THEN INSERT *   -- U3 insert-only
    MERGE INTO t USING s ON ... WHEN MATCHED THEN UPDATE SET *   -- U3 update-only
    MERGE INTO t USING s ON ... WHEN MATCHED THEN DELETE         -- U4 delete-incoming
    MERGE INTO t USING s ON ...
      WHEN NOT MATCHED BY SOURCE THEN DELETE                     -- U5 remove-missing
    MERGE INTO t USING s ON ...
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET c = <literal>   -- U7 deactivate-missing
    UPDATE t SET c1 = expr [, c2 = expr] [WHERE <predicate>]
    DELETE FROM t WHERE <predicate>
    INSERT [OR IGNORE] INTO t <SELECT ...>
    INSERT [OR IGNORE] INTO t [(c1, c2)] VALUES (...), (...)
    SELECT ... FROM store_t [VERSION AS OF n | TIMESTAMP AS OF 'ts'] ...
    CREATE TABLE t [KEYED BY (k1, k2)]
                   [PARTITIONED BY (c1, c2)] AS SELECT ...
    DROP TABLE t                          -- O(1) metadata commit
    OPTIMIZE t [ZORDER BY (c1, c2)]       -- compact / clustered rewrite
    VACUUM [RETAIN n VERSIONS|HOURS|DAYS] -- count- or time-based retention
    DESCRIBE HISTORY [t]                  -- committed versions, newest first
    DESCRIBE DETAIL t                     -- zero-job profile (profile_table)
    RESTORE VERSION AS OF n               -- store-wide rollback
    EXPORT TABLE t TO '<dir>' [SHARDS n]  -- CDC-maintained shard export
    ALTER TABLE t RENAME COLUMN a TO b    -- O(1) metadata rename
    ALTER TABLE t DROP COLUMN c           -- O(1) metadata drop
    ALTER TABLE t ALTER COLUMN c TYPE bigint  -- O(1) lossless widening
    BEGIN [TRANSACTION] [AS 'app' BATCH n]; ...; COMMIT | ROLLBACK
    CREATE MATERIALIZED VIEW v AS
      SELECT g, COUNT(*), SUM(x), MIN(y), MAX(z),
             APPROX_COUNT_DISTINCT(u)
      FROM src [WHERE <pred>] GROUP BY g  -- incremental aggregate view
    CREATE MATERIALIZED VIEW v AS
      SELECT * | fact.*, dim.c1, ...
      FROM fact [LEFT] JOIN dim ON fact.fk = dim.k
      [WHERE <fact pred>]                 -- incremental join view
    CREATE MATERIALIZED VIEW v AS
      SELECT <scalar exprs incl. the key>
      FROM src [WHERE <row filter>]       -- per-row projection view
    REFRESH MATERIALIZED VIEWS            -- dependency-ordered IVM pass
    DROP MATERIALIZED VIEW v              -- declaration only; DROP TABLE v for data
    SHOW MATERIALIZED VIEWS               -- the declared-view registry
    EXPLAIN [FORMATTED|EXTENDED|...] SELECT ...  -- Spark plan, store refs resolved

and multi-statement ATOMIC blocks — MERGE / INSERT INTO / DELETE FROM /
UPDATE statements over KEYED tables committed as ONE store version
(publish.merge_many_mor)::

    with store_sql(spark, root).transaction(txn=("job", 7)) as tx:
        tx.sql("MERGE INTO orders USING s1 ON ... WHEN ...")
        tx.sql("DELETE FROM lines WHERE status = 'void'")
        tx.sql("UPDATE customers SET tier = 'gold' WHERE spend > 100")

INSERT INTO semantics — READ THIS: the store's tables are KEYED, so a
plain SQL append could silently break key uniqueness.  ``INSERT INTO``
therefore FAILS LOUDLY when any incoming key already exists in the
target (the remedy is ``MERGE INTO ... WHEN MATCHED THEN UPDATE SET *``
to overwrite, or ``INSERT OR IGNORE INTO`` to skip existing keys
silently — the Delta/standard-SQL unconditional append is deliberately
not offered).

`s` (the source) may be a session temp view, another table of the same
store, or a parenthesized SELECT (run against the store's registered
views plus any session views).  The ON clause must be an AND-conjunction
of target=source column equalities — the store's merges are key-based,
exactly like its Python API (arbitrary ON predicates are SQL Server's
generality, not MERGE-on-keys semantics).

``mor=True`` routes through merge_into_mor (O(staging) delta commits);
the default is the copy-on-write merge_into.  DELETE FROM always
rewrites (it has no per-row staging); at 100 TB prefer a keyed MERGE
... WHEN MATCHED THEN DELETE with mor=True.

Deliberately NOT a general SQL engine: everything inside a SELECT is
handed to Spark SQL untouched; this module only parses the thin DML
shell Spark SQL itself lacks for external stores.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.plans import publish


def _unwrap_parens(s: str) -> str:
    """Strip one (or more nested) BALANCED outer paren pair wrapping the
    whole text — ``str.strip("()")`` would also eat a subquery's own
    closing paren (``(SELECT ... IN (1,2))`` → unbalanced SQL)."""
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        wraps = True
        for i, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i < len(s) - 1:
                    wraps = False  # outer '(' closes before the end
                    break
        if not wraps or depth != 0:
            return s
        s = s[1:-1].strip()
    return s


def _split_depth0(text: str, sep: str = ",") -> list[str]:
    """Split on `sep` at paren depth 0 (assignment lists whose exprs may
    themselves contain commas, e.g. ``SET a = coalesce(x, y), b = 1``)."""
    parts, depth, buf = [], 0, []
    quote = None
    for ch in text:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


_ASSIGN_RE = re.compile(r"^\s*(?:\w+\.)?(\w+)\s*=\s*(.+?)\s*$", re.DOTALL)


def _parse_assignments(sets: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for part in _split_depth0(sets):
        m = _ASSIGN_RE.match(part)
        if not m:
            raise ValueError(f"cannot parse SET assignment {part!r}")
        col, expr = m.group(1), m.group(2)
        if col in out:
            raise ValueError(f"column {col!r} assigned twice in SET")
        out[col] = expr
    return out


_MERGE_RE = re.compile(
    r"^\s*MERGE\s+(?:(?P<evolve>WITH\s+SCHEMA\s+EVOLUTION)\s+)?"
    r"INTO\s+(?P<target>\w+)(?:\s+(?:AS\s+)?(?P<talias>\w+))?"
    r"\s+USING\s+(?:(?P<subquery>\(.*\))|(?P<source>\w+))"
    r"(?:\s+(?:AS\s+)?(?P<salias>\w+))?"
    r"\s+ON\s+(?P<on>.*?)"
    r"(?P<clauses>(?:\s+WHEN\s+.*)?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_RE = re.compile(
    r"WHEN\s+(?P<not>NOT\s+)?MATCHED(?P<bysource>\s+BY\s+SOURCE)?\s+(?:THEN\s+)?"
    r"(?P<action>UPDATE\s+SET\s+.+?|INSERT\s+\*|DELETE)"
    r"(?=\s+WHEN\s+|\s*;?\s*$)",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<target>\w+)\s+WHERE\s+(?P<where>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<target>\w+)\s+SET\s+(?P<sets>.+?)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(?:(?P<ignore>OR\s+IGNORE)\s+)?INTO\s+(?P<target>\w+)"
    r"\s+(?P<select>(?:\(\s*)?SELECT\s+.+?(?:\s*\))?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_VALUES_RE = re.compile(
    r"^\s*INSERT\s+(?:(?P<ignore>OR\s+IGNORE)\s+)?INTO\s+(?P<target>\w+)"
    r"(?:\s*\((?P<cols>[\w\s,]+?)\))?\s+VALUES\s+(?P<values>\(.+?\))\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_EQ_RE = re.compile(r"^\s*(?:(\w+)\.)?(\w+)\s*=\s*(?:(\w+)\.)?(\w+)\s*$")
_SELECT_RE = re.compile(r"^\s*(?:SELECT|WITH)\b", re.IGNORECASE)
_EXPLAIN_RE = re.compile(
    r"^\s*EXPLAIN(\s+(?:EXTENDED|FORMATTED|CODEGEN|COST))?\s+(?:SELECT|WITH)\b",
    re.IGNORECASE,
)
_ASOF_RE = re.compile(
    r"(?P<table>\w+)\s+(?:(?:VERSION\s+AS\s+OF\s+(?P<version>\d+))|"
    r"(?:TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)'))",
    re.IGNORECASE,
)
_CREATE_MV_RE = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?P<target>\w+)\s+AS\s+"
    r"(?P<select>SELECT\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MV_RE = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEWS?\s*;?\s*$", re.IGNORECASE
)
_DROP_MV_RE = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?P<target>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_MV_RE = re.compile(
    r"^\s*SHOW\s+MATERIALIZED\s+VIEWS\s*;?\s*$", re.IGNORECASE
)
# the two maintainable view shapes (materialize.maintain_aggregate /
# maintain_join); anything else is rejected with the supported grammar
_MV_JOIN_RE = re.compile(
    r"^SELECT\s+(?P<cols>.+?)\s+FROM\s+(?P<fact>\w+)\s+"
    r"(?:(?P<how>LEFT|INNER)\s+)?JOIN\s+(?P<dim>\w+)\s+ON\s+"
    r"(?P<on>\w+\s*\.\s*\w+\s*=\s*\w+\s*\.\s*\w+)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MV_AGG_RE = re.compile(
    r"^SELECT\s+(?P<cols>.+?)\s+FROM\s+(?P<src>\w+)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"\s+GROUP\s+BY\s+(?P<group>[\w\s,]+?)"
    r"(?:\s+HAVING\s+(?P<having>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# star rollup: fact ⋈ dim THEN GROUP BY — the first view a
# warehouse consumer declares.  Composed as an internal join view
# (<dst>__j, maintain_join) feeding an ordinary aggregate view (dst,
# maintain_aggregate over the join view's CDC), so the rollup refreshes
# O(delta) through BOTH feeds: a dim change re-derives only the fact
# rows referencing it (join scoping), whose view-row updates then
# re-aggregate only the affected groups (± delta algebra)
_MV_JOINAGG_RE = re.compile(
    r"^SELECT\s+(?P<cols>.+?)\s+FROM\s+(?P<fact>\w+)\s+"
    r"(?:(?P<how>LEFT|INNER)\s+)?JOIN\s+(?P<dim>\w+)\s+ON\s+"
    r"(?P<on>\w+\s*\.\s*\w+\s*=\s*\w+\s*\.\s*\w+)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"\s+GROUP\s+BY\s+(?P<group>[\w\s,.]+?)"
    r"(?:\s+HAVING\s+(?P<having>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MV_AGG_ITEM_RE = re.compile(
    r"^(?:(?P<fn>COUNT|SUM|MIN|MAX|AVG|APPROX_COUNT_DISTINCT)\s*\(\s*"
    r"(?P<arg>\*|\w+)\s*\)(?:\s+AS\s+(?P<alias>\w+))?|(?P<col>\w+))$",
    re.IGNORECASE,
)
# exact COUNT(DISTINCT c) — the declared alternative to the HLL sketch
_MV_CNTD_RE = re.compile(
    r"^COUNT\s*\(\s*DISTINCT\s+(?P<arg>\w+)\s*\)"
    r"(?:\s+AS\s+(?P<alias>\w+))?$",
    re.IGNORECASE,
)
# SUM over an arbitrary row-local expression — alias REQUIRED (it is the
# maintained physical column's name)
_MV_SUM_EXPR_RE = re.compile(
    r"^SUM\s*\((?P<expr>.+)\)\s+AS\s+(?P<alias>\w+)$",
    re.IGNORECASE | re.DOTALL,
)
_MV_ON_RE = re.compile(
    r"^(?P<ta>\w+)\s*\.\s*(?P<ka>\w+)\s*=\s*(?P<tb>\w+)\s*\.\s*(?P<kb>\w+)$"
)
_MV_PROJ_RE = re.compile(
    r"^SELECT\s+(?P<cols>.+?)\s+FROM\s+(?P<src>\w+)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _split_select_items(s: str) -> list[str]:
    """Split a select list on top-level commas (paren- and
    string-literal-aware) — selectExpr items like round(x, 2)."""
    items: list[str] = []
    cur: list[str] = []
    depth, in_str, i = 0, False, 0
    while i < len(s):
        ch = s[i]
        if in_str:
            cur.append(ch)
            if ch == "'":
                if i + 1 < len(s) and s[i + 1] == "'":
                    cur.append("'")
                    i += 1
                else:
                    in_str = False
        elif ch == "'":
            in_str = True
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            items.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        items.append(tail)
    return items

# --- SQL predicate text -> scan_table's boolean-tree algebra ---------------
# (column, op, literal) triples / ("and"|"or", ...) / ("not", node) /
# (column, "in", [values]) / (column, "is_null"|"is_not_null") — the
# file-skipping form publish.scan_table and read_changes(where=) take.
_MV_TOKEN_RE = re.compile(
    r"\s*(?:(?P<str>'(?:[^']|'')*')|(?P<num>-?\d+(?:\.\d+)?)"
    r"|(?P<id>\w+)|(?P<op><=|>=|==|=|<>|!=|<|>)|(?P<lp>\()|(?P<rp>\))"
    r"|(?P<comma>,))"
)
_MV_KEYWORDS = {"AND", "OR", "NOT", "IN", "IS", "NULL"}


def _pred_tokens(s: str) -> list[tuple[str, object]]:
    out: list[tuple[str, object]] = []
    pos, n = 0, len(s)
    while pos < n:
        m = _MV_TOKEN_RE.match(s, pos)
        if not m or m.end() == pos:
            raise ValueError(f"cannot tokenize predicate at {s[pos:pos + 30]!r}")
        pos = m.end()
        if m.group("str") is not None:
            out.append(("lit", m.group("str")[1:-1].replace("''", "'")))
        elif m.group("num") is not None:
            t = m.group("num")
            out.append(("lit", float(t) if "." in t else int(t)))
        elif m.group("id") is not None:
            kw = m.group("id").upper()
            if kw in _MV_KEYWORDS:
                out.append(("kw", kw))
            else:
                out.append(("id", m.group("id")))
        elif m.group("op") is not None:
            out.append(("cmp", m.group("op")))
        elif m.group("lp") is not None:
            out.append(("lp", "("))
        elif m.group("rp") is not None:
            out.append(("rp", ")"))
        elif m.group("comma") is not None:
            out.append(("comma", ","))
        # NOTE: every _MV_TOKEN_RE alternative is non-empty, so a
        # pure-whitespace TAIL would fail to match and raise above —
        # parse_predicate_tree strips its input so the loop never sees one
    return out


class _PredParser:
    """Recursive-descent OR > AND > NOT > comparison, standard SQL
    precedence; produces scan_table predicate nodes."""

    def __init__(self, text: str):
        self.toks = _pred_tokens(text)
        self.i = 0

    def _peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def _take(self):
        t = self._peek()
        self.i += 1
        return t

    def parse(self) -> list:
        node = self._expr()
        if self.i != len(self.toks):
            raise ValueError(
                f"trailing tokens in predicate: {self.toks[self.i:]!r}"
            )
        # scan_table takes a top-level AND list
        return list(node[1:]) if node[0] == "and" else [node]

    def _expr(self):
        nodes = [self._term()]
        while self._peek() == ("kw", "OR"):
            self._take()
            nodes.append(self._term())
        return nodes[0] if len(nodes) == 1 else ("or", *nodes)

    def _term(self):
        nodes = [self._factor()]
        while self._peek() == ("kw", "AND"):
            self._take()
            nodes.append(self._factor())
        return nodes[0] if len(nodes) == 1 else ("and", *nodes)

    def _factor(self):
        kind, val = self._peek()
        if (kind, val) == ("kw", "NOT"):
            self._take()
            return ("not", self._factor())
        if kind == "lp":
            self._take()
            node = self._expr()
            if self._take()[0] != "rp":
                raise ValueError("unbalanced '(' in predicate")
            return node
        return self._comparison()

    def _comparison(self):
        kind, col = self._take()
        if kind != "id":
            raise ValueError(f"expected a column name, got {col!r}")
        kind2, tok2 = self._take()
        if (kind2, tok2) == ("kw", "IS"):
            neg = self._peek() == ("kw", "NOT")
            if neg:
                self._take()
            if self._take() != ("kw", "NULL"):
                raise ValueError(f"expected NULL after {col} IS [NOT]")
            return (col, "is_not_null" if neg else "is_null")
        if (kind2, tok2) == ("kw", "IN"):
            if self._take()[0] != "lp":
                raise ValueError(f"expected '(' after {col} IN")
            vals = []
            while True:
                k, v = self._take()
                if k != "lit":
                    raise ValueError("IN list values must be literals")
                vals.append(v)
                k, _ = self._take()
                if k == "rp":
                    break
                if k != "comma":
                    raise ValueError("expected ',' or ')' in IN list")
            return (col, "in", vals)
        if kind2 == "cmp":
            if tok2 in ("<>", "!="):
                k, v = self._take()
                if k != "lit":
                    raise ValueError("comparison values must be literals")
                return ("not", (col, "=", v))
            k, v = self._take()
            if k != "lit":
                raise ValueError("comparison values must be literals")
            return (col, "=" if tok2 == "==" else tok2, v)
        raise ValueError(f"unsupported predicate after column {col!r}")


def parse_predicate_tree(text: str) -> list:
    """SQL predicate text → scan_table's boolean-tree ``where=`` algebra
    (the file-skipping form; also used by read_changes / metadata
    aggregates).  Supports comparisons against literals, IN lists,
    IS [NOT] NULL, AND/OR/NOT and parentheses.  Input is stripped:
    the tokenizer requires non-empty matches, so an unstripped trailing
    space would raise 'cannot tokenize' on otherwise-valid text (the MV
    regexes pre-strip, but this is public API)."""
    return _PredParser(text.strip()).parse()


_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+(?P<target>\w+)"
    r"(?:\s+ZORDER\s+BY\s+\(?(?P<cols>[\w\s,]+?)\)?)?\s*;?\s*$",
    re.IGNORECASE,
)
_VACUUM_RE = re.compile(
    r"^\s*VACUUM(?:\s+RETAIN\s+(?P<keep>\d+)\s+"
    r"(?P<unit>VERSIONS?|HOURS?|DAYS?))?\s*;?\s*$",
    re.IGNORECASE,
)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<target>\w+)"
    r"(?:\s+KEYED\s+BY\s+\(?(?P<keys>[\w\s,]+?)\)?)?"
    r"(?:\s+PARTITIONED\s+BY\s+\(?(?P<parts>[\w\s,]+?)\)?)?"
    r"\s+AS\s+(?P<select>SELECT\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<target>\w+)\s*;?\s*$", re.IGNORECASE
)
_DETAIL_RE = re.compile(
    r"^\s*DESCRIBE\s+DETAIL\s+(?P<target>\w+)\s*;?\s*$", re.IGNORECASE
)
_HISTORY_RE = re.compile(
    r"^\s*DESCRIBE\s+HISTORY(?:\s+(?P<target>\w+))?\s*;?\s*$", re.IGNORECASE
)
_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+VERSION\s+AS\s+OF\s+(?P<version>\d+)\s*;?\s*$",
    re.IGNORECASE,
)
_EXPORT_RE = re.compile(
    r"^\s*EXPORT\s+TABLE\s+(?P<target>\w+)\s+TO\s+'(?P<path>[^']+)'"
    r"(?:\s+SHARDS\s+(?P<shards>\d+))?\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<target>\w+)\s+(?P<body>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_RENAME_RE = re.compile(
    r"^RENAME\s+COLUMN\s+(?P<frm>\w+)\s+TO\s+(?P<to>\w+)$", re.IGNORECASE
)
_ALTER_DROP_RE = re.compile(
    r"^DROP\s+COLUMN\s+(?P<col>\w+)$", re.IGNORECASE
)
_ALTER_TYPE_RE = re.compile(
    r"^ALTER\s+COLUMN\s+(?P<col>\w+)\s+TYPE\s+(?P<type>[\w(),\s]+?)$",
    re.IGNORECASE,
)
_INSERT_OVERWRITE_RE = re.compile(
    r"^\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?(?P<target>\w+)"
    r"\s+(?P<select>(?:\(\s*)?SELECT\s+.+?(?:\s*\))?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_REPLACE_WHERE_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<target>\w+)\s+REPLACE\s+WHERE\s+"
    r"(?P<where>.+?)\s+(?P<select>(?:\(\s*)?SELECT\s+.+?(?:\s*\))?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# Delta's table_changes('t', startVersion [, endVersion]) table-valued
# function: startVersion is the FIRST COMMIT whose changes are included,
# so it maps to read_changes(from_version=start-1, to_version=end)
_TABLE_CHANGES_RE = re.compile(
    r"table_changes\(\s*'(?P<t>\w+)'\s*,\s*(?P<v1>\d+)"
    r"(?:\s*,\s*(?P<v2>\d+))?\s*\)",
    re.IGNORECASE,
)
_BEGIN_RE = re.compile(
    r"^\s*BEGIN(?:\s+TRANSACTION)?"
    r"(?:\s+AS\s+'(?P<app>[^']+)'\s+BATCH\s+(?P<batch>\d+))?\s*;?\s*$",
    re.IGNORECASE,
)
_COMMIT_RE = re.compile(r"^\s*COMMIT\s*;?\s*$", re.IGNORECASE)
_ROLLBACK_RE = re.compile(r"^\s*ROLLBACK\s*;?\s*$", re.IGNORECASE)


class StoreSQL:
    """One store root's SQL DML session.  Statements run against the
    store's CURRENT version; each DML lands as one atomic commit through
    the same merge/publish paths as the Python API."""

    def __init__(self, spark: SparkSession, root: str, mor: bool = False,
                 prefix: str = "store_"):
        self.spark = spark
        self.root = root
        self.mor = mor
        self.prefix = prefix
        self._tx_merges: dict | None = None
        self._tx_txn: tuple[str, int] | None = None

    def transaction(self, txn: tuple[str, int] | None = None):
        """Multi-statement ATOMIC transaction block: every DML statement
        issued inside the `with` body is parsed and staged immediately but
        committed TOGETHER as one store version on exit
        (publish.merge_many_mor) — the SQL face of the multi-table write
        guarantee::

            with store_sql(spark, root).transaction(txn=("job", 7)) as tx:
                tx.sql("MERGE INTO orders USING s1 ON ... WHEN ...")
                tx.sql("DELETE FROM lines WHERE status = 'void'")
                tx.sql("UPDATE customers SET tier = 'x' WHERE spend > 9")

        Allowed inside a block: MERGE INTO, INSERT [OR IGNORE] INTO,
        DELETE FROM, and UPDATE — each compiles to a merge-on-read spec
        (DELETE's matched keys become delete markers, UPDATE's matched
        rows become an update-only staging), so DELETE/UPDATE need the
        target's keys recorded.  Statements that commit independently
        (VACUUM, OPTIMIZE, CTAS, ...) raise.  One statement per target
        table per block (two writes to one table have an ordering no
        single version can express).  An exception inside the body
        commits NOTHING.  `txn` gates the whole block's replay."""
        outer = self

        class _Tx:
            def __enter__(tx):
                outer._tx_merges = {}
                return outer

            def __exit__(tx, exc_type, exc, tb):
                merges, outer._tx_merges = outer._tx_merges, None
                if exc_type is not None:
                    return False  # nothing committed
                if merges:
                    publish.merge_many_mor(
                        outer.spark, outer.root, merges, txn=txn
                    )
                return False

        return _Tx()

    # -- source resolution -------------------------------------------------
    def _frame(self, ref: str | None, subquery: str | None) -> DataFrame:
        if subquery:
            # route through _select so a MERGE source subquery can also
            # time-travel (USING (SELECT ... VERSION AS OF n) s)
            return self._select(_unwrap_parens(subquery))
        assert ref is not None
        try:
            return self.spark.table(ref)  # session temp view wins
        except Exception:  # noqa: BLE001 — fall through to store tables
            return publish.read_table(self.spark, self.root, ref)

    def _keys_from_on(self, on: str, target: str, talias: str | None,
                      source: str | None, salias: str | None) -> list[str]:
        t_names = {n.lower() for n in (target, talias) if n}
        s_names = {n.lower() for n in (source, salias) if n}
        keys: list[str] = []
        for part in re.split(r"\s+AND\s+", on.strip(), flags=re.IGNORECASE):
            m = _EQ_RE.match(part)
            if not m:
                raise ValueError(
                    f"MERGE ON clause must be AND-ed column equalities; "
                    f"got {part.strip()!r}"
                )
            lq, lc, rq, rc = m.groups()
            # orient each equality target-side → key column
            if lq and lq.lower() in s_names or rq and rq.lower() in t_names:
                lc, rc = rc, lc
            if lc.lower() != rc.lower():
                raise ValueError(
                    f"MERGE keys must pair the same column on both sides "
                    f"(key-based merge); got {part.strip()!r}"
                )
            keys.append(lc)
        return keys

    # -- shared guards -----------------------------------------------------
    def _keyed(self, target: str, what: str) -> list[str]:
        keys = publish.table_keys(self.root, target)
        if not keys:
            raise ValueError(
                f"{what} needs {target!r}'s keys recorded "
                "(publish with table_keys=)"
            )
        return list(keys)

    def _tx_stage(self, target: str, spec: dict) -> None:
        if target in self._tx_merges:
            raise ValueError(
                f"transaction block already writes {target!r} — one "
                "statement per table per block"
            )
        self._tx_merges[target] = spec

    def _insert_guard(
        self, target: str, rows: DataFrame, ignore: bool
    ) -> tuple[str, list[str]]:
        """INSERT INTO fails loudly when an incoming key already exists
        (see module docstring); OR IGNORE restores the silent skip."""
        keys = self._keyed(target, f"INSERT INTO {target!r}")
        if not ignore:
            dup = (
                rows.select(*keys)
                .join(
                    publish.read_table(self.spark, self.root, target)
                    .select(*keys),
                    keys, "left_semi",
                )
                .limit(1)
            )
            if dup.count():
                sample = dup.collect()[0].asDict()
                raise ValueError(
                    f"INSERT INTO {target!r}: source contains keys that "
                    f"already exist (e.g. {sample}) — the store's tables "
                    "are keyed, so a plain append would break uniqueness. "
                    "Use MERGE INTO ... WHEN MATCHED THEN UPDATE SET * to "
                    "overwrite, or INSERT OR IGNORE INTO to skip them."
                )
        return target, keys

    def _values_frame(
        self, target: str, cols: str | None, values: str
    ) -> DataFrame:
        """INSERT ... VALUES rows as a frame: Spark SQL's VALUES table
        constructor, columns named from the statement's list (or the
        target's full column order when omitted)."""
        names = (
            [c.strip() for c in cols.split(",")] if cols
            else publish.read_table(self.spark, self.root, target).columns
        )
        return self.spark.sql(
            f"SELECT * FROM (VALUES {values}) AS __v({', '.join(names)})"
        )

    def _update_staging(
        self, target: str, sets: str, where: str, keys: list[str]
    ) -> DataFrame:
        """The UPDATE's matched rows as a PARTIAL staging — keys plus the
        SET columns only (merge_into_mor(partial_update=True) writes a
        delta as narrow as the update); all expressions evaluate against
        the PRE-update row (standard SQL), via one select over the
        filtered table."""
        publish.register_store(self.spark, self.root, prefix=self.prefix)
        assigns = _parse_assignments(sets)
        matched = self.spark.sql(
            f"SELECT * FROM {self.prefix}{target} WHERE ({where})"
        )
        unknown = set(assigns) - set(matched.columns)
        if unknown:
            raise ValueError(
                f"UPDATE {target!r} SET references unknown column(s) "
                f"{sorted(unknown)}"
            )
        overlap = [k for k in keys if k in assigns]
        if overlap:
            raise ValueError(
                f"UPDATE {target!r} cannot assign key column(s) {overlap}"
            )
        return matched.select(
            *keys,
            *[
                F.expr(assigns[c]).cast(matched.schema[c].dataType).alias(c)
                for c in matched.columns if c in assigns
            ],
        )

    # -- statements --------------------------------------------------------
    def sql(self, statement: str) -> dict | DataFrame:
        """Execute one statement.  DML / maintenance statements return the
        engine call's result manifest/summary dict; SELECT (including
        time travel) and DESCRIBE HISTORY return a DataFrame."""
        # pure-SQL transaction blocks: the statement trio a
        # SQL-only orchestrator uses instead of the Python transaction()
        # context manager — same staging/commit machinery underneath
        m = _BEGIN_RE.match(statement)
        if m:
            if self._tx_merges is not None:
                raise ValueError("already inside a transaction block")
            self._tx_merges = {}
            self._tx_txn = (
                (m.group("app"), int(m.group("batch")))
                if m.group("app") else None
            )
            return {"transaction": "open"}
        if _COMMIT_RE.match(statement):
            if self._tx_merges is None:
                raise ValueError("COMMIT outside a transaction block")
            merges, self._tx_merges = self._tx_merges, None
            txn, self._tx_txn = self._tx_txn, None
            if merges:
                return publish.merge_many_mor(
                    self.spark, self.root, merges, txn=txn
                )
            return {"transaction": "empty"}
        if _ROLLBACK_RE.match(statement):
            if self._tx_merges is None:
                raise ValueError("ROLLBACK outside a transaction block")
            self._tx_merges = None
            self._tx_txn = None
            return {"transaction": "rolled_back"}
        m = _MERGE_RE.match(statement)
        if m:
            return self._merge(m)
        if self._tx_merges is not None:
            m = _REPLACE_WHERE_RE.match(statement)
            if m:
                # predicate-scoped replace joins the atomic block: delete
                # markers for matched-but-not-reinserted keys + an upsert
                # of the incoming rows, one table entry in the block's
                # single version
                target = m.group("target")
                keys = self._keyed(target, "REPLACE WHERE inside transaction()")
                rows, doomed = self._replace_where_parts(
                    target, m.group("where"), m.group("select"), keys
                )
                self._tx_stage(target, {
                    "staging": rows, "deletes": doomed, "keys": keys,
                    "insert_new": True, "update_existing": True,
                })
                return {"deferred": target}
            if _INSERT_OVERWRITE_RE.match(statement):
                raise ValueError(
                    "INSERT OVERWRITE replaces the whole table (a "
                    "copy-on-write publish) and cannot join a merge-on-"
                    "read transaction block — use REPLACE WHERE for a "
                    "scoped replace, or run it outside the block"
                )
            m = _INSERT_RE.match(statement) or _INSERT_VALUES_RE.match(
                statement
            )
            if m:
                # INSERT INTO is merge-engine-backed (insert-only), so it
                # may join the atomic block like any other MERGE
                groups = m.groupdict()
                rows = (
                    self._select(_unwrap_parens(groups["select"]))
                    if "select" in groups
                    else self._values_frame(
                        groups["target"], groups["cols"], groups["values"]
                    )
                )
                target, keys = self._insert_guard(
                    m.group("target"), rows, ignore=bool(m.group("ignore"))
                )
                self._tx_stage(target, {
                    "staging": rows, "keys": keys,
                    "insert_new": True, "update_existing": False,
                })
                return {"deferred": target}
            m = _DELETE_RE.match(statement)
            if m:
                # matched keys become MoR delete markers in the block's
                # single atomic version
                target = m.group("target")
                keys = self._keyed(target, "DELETE FROM inside transaction()")
                publish.register_store(self.spark, self.root,
                                       prefix=self.prefix)
                doomed = self.spark.sql(
                    f"SELECT * FROM {self.prefix}{target} "
                    f"WHERE ({m.group('where')})"
                ).select(*keys)
                self._tx_stage(target, {
                    "staging": doomed.limit(0), "deletes": doomed,
                    "keys": keys,
                })
                return {"deferred": target}
            m = _UPDATE_RE.match(statement)
            if m:
                target = m.group("target")
                keys = self._keyed(target, "UPDATE inside transaction()")
                self._tx_stage(target, {
                    "staging": self._update_staging(
                        target, m.group("sets"),
                        m.group("where") or "true", keys
                    ),
                    "keys": keys,
                    "insert_new": False, "update_existing": True,
                    "partial_update": True,
                })
                return {"deferred": target}
            raise ValueError(
                "only MERGE INTO / INSERT INTO / DELETE FROM / UPDATE "
                "statements may run inside a transaction() block — "
                "anything else commits its own version: "
                f"{statement[:80]!r}"
            )
        m = _REPLACE_WHERE_RE.match(statement)
        if m:
            return self._replace_where(
                m.group("target"), m.group("where"), m.group("select")
            )
        m = _INSERT_OVERWRITE_RE.match(statement)
        if m:
            return self._insert_overwrite(
                m.group("target"), m.group("select")
            )
        m = _DELETE_RE.match(statement)
        if m:
            return self._delete(m.group("target"), m.group("where"))
        m = _UPDATE_RE.match(statement)
        if m:
            return self._update(
                m.group("target"), m.group("sets"),
                m.group("where") or "true"
            )
        m = _INSERT_RE.match(statement)
        if m:
            return self._insert(
                m.group("target"), m.group("select"),
                ignore=bool(m.group("ignore")),
            )
        m = _INSERT_VALUES_RE.match(statement)
        if m:
            rows = self._values_frame(
                m.group("target"), m.group("cols"), m.group("values")
            )
            _, keys = self._insert_guard(
                m.group("target"), rows, ignore=bool(m.group("ignore"))
            )
            fn = publish.merge_into_mor if self.mor else publish.merge_into
            return fn(
                self.spark, self.root, m.group("target"), rows, keys=keys,
                insert_new=True, update_existing=False,
            )
        if _SELECT_RE.match(statement):
            return self._select(statement)
        if _EXPLAIN_RE.match(statement):
            # table refs (incl. time travel / table_changes) rewrite the
            # same way as a SELECT; Spark's own EXPLAIN then returns the
            # plan as a one-row DataFrame — the 100 TB sanity loop
            # (PushedFilters, broadcast vs sort-merge) without leaving SQL
            return self._select(statement)
        m = _ALTER_RE.match(statement)
        if m:
            target, body = m.group("target"), m.group("body").strip()
            b = _ALTER_RENAME_RE.match(body)
            if b:
                return publish.rename_column(
                    self.spark, self.root, target,
                    b.group("frm"), b.group("to"),
                )
            b = _ALTER_DROP_RE.match(body)
            if b:
                return publish.drop_column(
                    self.spark, self.root, target, b.group("col")
                )
            b = _ALTER_TYPE_RE.match(body)
            if b:
                # lossless widening only — widen_column_type refuses the
                # rest (a lossy change needs a CoW rewrite)
                return publish.widen_column_type(
                    self.spark, self.root, target,
                    b.group("col"), b.group("type").strip(),
                )
            raise ValueError(
                "unsupported ALTER TABLE form (RENAME COLUMN a TO b / "
                "DROP COLUMN c / ALTER COLUMN c TYPE <wider type>): "
                f"{body[:80]!r}"
            )
        m = _CREATE_MV_RE.match(statement)
        if m:
            return self._create_matview(m.group("target"), m.group("select"))
        if _REFRESH_MV_RE.match(statement):
            from dataintegration_ecomprovider_spark.plans import materialize

            return materialize.refresh_declared_views(self.spark, self.root)
        m = _DROP_MV_RE.match(statement)
        if m:
            from dataintegration_ecomprovider_spark.plans import materialize

            target = m.group("target")
            views = materialize.declared_views(self.root)
            spec = views.get(target, {})
            dropped = materialize.drop_view_declaration(self.root, target)
            if (
                spec.get("kind") == "aggregate"
                and spec.get("src") == f"{target}__j"
                and f"{target}__j" in views
            ):
                # a star rollup owns its internal join view — drop the
                # plumbing declaration with it (tables stay, as documented)
                materialize.drop_view_declaration(self.root, f"{target}__j")
            return {"dropped": dropped}
        if _SHOW_MV_RE.match(statement):
            return self._show_matviews()
        m = _OPTIMIZE_RE.match(statement)
        if m:
            cols = m.group("cols")
            return publish.compact(
                self.spark, self.root, m.group("target"),
                cluster_by=(
                    [c.strip() for c in cols.split(",")] if cols else None
                ),
            )
        m = _VACUUM_RE.match(statement)
        if m:
            unit = (m.group("unit") or "VERSIONS").upper()
            keep = int(m.group("keep") or 2)
            if unit.startswith("VERSION"):
                return publish.vacuum(self.spark, self.root, keep_versions=keep)
            secs = keep * 3600 * (24 if unit.startswith("DAY") else 1)
            return publish.vacuum(
                self.spark, self.root, keep_versions=1, keep_seconds=secs
            )
        m = _CTAS_RE.match(statement)
        if m:
            publish.register_store(self.spark, self.root, prefix=self.prefix)
            target = m.group("target")
            if target in publish.current_manifest(self.root)["tables"]:
                raise ValueError(f"table {target!r} already exists")
            keys = m.group("keys")
            parts = m.group("parts")
            return publish.publish_tables(
                self.spark, {target: self.spark.sql(m.group("select"))},
                self.root,
                table_keys=(
                    {target: [k.strip() for k in keys.split(",")]}
                    if keys else None
                ),
                partition_by=(
                    {target: [p.strip() for p in parts.split(",")]}
                    if parts else None
                ),
            )
        m = _DROP_RE.match(statement)
        if m:
            return publish.drop_table(self.root, m.group("target"))
        m = _DETAIL_RE.match(statement)
        if m:
            import json as _json

            p = publish.profile_table(self.root, m.group("target"))
            return self.spark.createDataFrame(
                [(p["table"], _json.dumps(p["keys"]),
                  _json.dumps(p["partition_by"]),
                  int(p["files"]["count"]) if p["files"] else None,
                  int(p["files"]["rows"]) if p["files"] else None,
                  int(p["files"]["bytes"]) if p["files"] else None,
                  int(p["deltas_pending"]["count"]),
                  _json.dumps(p["columns"], sort_keys=True))],
                "table string, keys string, partition_by string, "
                "num_files long, rows long, bytes long, "
                "deltas_pending long, columns string",
            )
        m = _HISTORY_RE.match(statement)
        if m:
            return self._history(m.group("target"))
        m = _RESTORE_RE.match(statement)
        if m:
            return publish.rollback(self.root, int(m.group("version")))
        m = _EXPORT_RE.match(statement)
        if m:
            from dataintegration_ecomprovider_spark.llm.export import (
                maintain_training_shards,
            )

            target = m.group("target")
            keys = publish.table_keys(self.root, target)
            if not keys:
                raise ValueError(
                    f"EXPORT TABLE {target!r} needs recorded keys "
                    "(publish with table_keys=)"
                )
            # CDC-maintained: the first EXPORT seeds the shard mirror,
            # re-running the same statement refreshes only the shards
            # holding changed rows
            return maintain_training_shards(
                self.spark, self.root, m.group("path"), src=target,
                num_shards=int(m.group("shards") or 64), id_col=keys[0],
            )
        raise ValueError(
            "unsupported statement (MERGE INTO / DELETE FROM / INSERT INTO "
            "/ SELECT [VERSION|TIMESTAMP AS OF] / CREATE TABLE ... AS "
            "SELECT / DROP TABLE / OPTIMIZE [ZORDER BY] / VACUUM / "
            "DESCRIBE HISTORY|DETAIL / RESTORE / EXPORT TABLE / CREATE|"
            "REFRESH|DROP|SHOW MATERIALIZED VIEW[S]): "
            f"{statement[:120]!r}"
        )

    def _select(self, statement: str) -> DataFrame:
        """SELECT over the store's registered views, with Delta-shaped
        time travel: `FROM <prefix><table> VERSION AS OF <n>` /
        `TIMESTAMP AS OF '<ts>'` clauses resolve through
        read_table_at/read_table_asof into per-statement temp views and
        the rewritten text is handed to Spark SQL untouched."""
        publish.register_store(self.spark, self.root, prefix=self.prefix)
        # aggregate matviews with read-side contracts (AVG derivation,
        # HAVING post-filter) overlay their physical temp view with the
        # READ form — a projection + filter over the same snapshot files,
        # no job, so `SELECT avg_x FROM store_v` just works
        from dataintegration_ecomprovider_spark.plans import materialize

        tables = publish.current_manifest(self.root)["tables"]
        for dst, spec in materialize.declared_views(self.root).items():
            if (
                spec.get("kind") == "aggregate"
                and (
                    spec.get("avg_cols")
                    or spec.get("having")
                    or spec.get("exact_distinct_cols")
                )
                and dst in tables
            ):
                materialize.read_aggregate_view(
                    self.spark, self.root, dst
                ).createOrReplaceTempView(f"{self.prefix}{dst}")

        def tc_rewrite(m: re.Match) -> str:
            name = m.group("t")
            if name.startswith(self.prefix):
                name = name[len(self.prefix):]
            v1 = int(m.group("v1"))
            to_v = int(m.group("v2")) if m.group("v2") is not None else None
            df = publish.read_changes(
                self.spark, self.root, name,
                from_version=v1 - 1, to_version=to_v,
            )
            view = (
                f"{self.prefix}{name}__changes_{v1}_"
                f"{to_v if to_v is not None else 'head'}"
            )
            df.createOrReplaceTempView(view)
            return view

        statement = _TABLE_CHANGES_RE.sub(tc_rewrite, statement)

        def rewrite(m: re.Match) -> str:
            ref = m.group("table")
            name = ref[len(self.prefix):] if ref.startswith(self.prefix) else ref
            if m.group("version") is not None:
                version = int(m.group("version"))
                df = publish.read_table_at(self.spark, self.root, name, version)
                view = f"{self.prefix}{name}__v{version}"
            else:
                df = publish.read_table_asof(
                    self.spark, self.root, name, m.group("ts")
                )
                digest = hashlib.md5(
                    m.group("ts").encode("utf-8")
                ).hexdigest()[:12]
                view = f"{self.prefix}{name}__asof_{digest}"
            df.createOrReplaceTempView(view)
            return view

        return self.spark.sql(_ASOF_RE.sub(rewrite, statement))

    def _history(self, target: str | None) -> DataFrame:
        """DESCRIBE HISTORY [<table>]: one row per committed store version
        (newest first) — version, txid, commit time, and whether the
        table existed there (when a table is named, versions it is absent
        from are filtered out)."""
        manifest = publish.current_manifest(self.root)
        snaps = publish._all_history(self.root, manifest) + [manifest]
        rows = []
        for h in snaps:
            if target is not None and target not in h.get("tables", {}):
                continue
            rows.append((
                int(h["version"]), h.get("txid"),
                float(h["committed_at_unix"])
                if h.get("committed_at_unix") is not None else None,
                float(h["commit_wall_ms"])
                if h.get("commit_wall_ms") is not None else None,
            ))
        rows.sort(key=lambda r: -r[0])
        return self.spark.createDataFrame(
            rows,
            "version long, txid string, committed_at_unix double, "
            "commit_wall_ms double",
        )

    def _merge(self, m: re.Match) -> dict:
        target = m.group("target")
        evolve = bool(m.group("evolve"))
        staging = self._frame(m.group("source"), m.group("subquery"))
        keys = self._keys_from_on(
            m.group("on"), target, m.group("talias"),
            m.group("source"), m.group("salias"),
        )
        update = insert = delete = False
        by_source: tuple[str, str] | None = None  # ("delete"|"update", sets)
        matches = list(_WHEN_RE.finditer(m.group("clauses") or ""))
        if not matches:
            raise ValueError("MERGE needs at least one WHEN clause")
        for w in matches:
            action = re.sub(r"\s+", " ", w.group("action").strip())
            if w.group("bysource"):
                # WHEN NOT MATCHED BY SOURCE THEN DELETE / UPDATE SET ...
                # → U5 remove-missing / U7 deactivate-missing
                if not w.group("not"):
                    raise ValueError(
                        "BY SOURCE clauses take the form WHEN NOT MATCHED "
                        "BY SOURCE THEN DELETE | UPDATE SET ..."
                    )
                if by_source is not None:
                    raise ValueError(
                        "at most one WHEN NOT MATCHED BY SOURCE clause"
                    )
                if action.upper() == "DELETE":
                    by_source = ("delete", "")
                elif action.upper().startswith("UPDATE SET "):
                    by_source = ("update", action[len("UPDATE SET "):])
                else:
                    raise ValueError(
                        f"unsupported BY SOURCE action {action!r}"
                    )
            elif action.upper() == "UPDATE SET *" and not w.group("not"):
                update = True
            elif action.upper() == "INSERT *" and w.group("not"):
                insert = True
            elif action.upper() == "DELETE" and not w.group("not"):
                delete = True
            else:
                raise ValueError(
                    f"unsupported WHEN clause action {action!r} (matched "
                    "actions: UPDATE SET * | DELETE; not-matched: INSERT *)"
                )
        if delete and (update or insert or by_source):
            raise ValueError(
                "WHEN MATCHED THEN DELETE cannot combine with "
                "UPDATE/INSERT clauses (key-based merge modes)"
            )
        if self._tx_merges is not None:
            # inside a transaction() block: stage the spec, commit on exit
            if by_source is not None and by_source[0] == "update":
                raise ValueError(
                    "WHEN NOT MATCHED BY SOURCE THEN UPDATE cannot join a "
                    "transaction() block (two row populations with "
                    "different update semantics) — run it standalone"
                )
            if delete:
                self._tx_stage(target, {
                    "staging": staging.select(*keys).limit(0),
                    "deletes": staging.select(*keys),
                    "keys": keys,
                })
            elif by_source is not None:
                # full-sync form: upsert the staging, delete-markers for
                # dest keys absent from the source — one MoR spec
                missing = (
                    publish.read_table(self.spark, self.root, target)
                    .select(*keys)
                    .join(staging.select(*keys), keys, "left_anti")
                )
                self._tx_stage(target, {
                    "staging": staging, "deletes": missing, "keys": keys,
                    "insert_new": insert, "update_existing": update,
                })
            else:
                self._tx_stage(target, {
                    "staging": staging, "keys": keys,
                    "insert_new": insert, "update_existing": update,
                    "evolve_schema": evolve,
                })
            return {"deferred": target}
        if by_source is not None:
            return self._merge_by_source(
                target, staging, keys, update, insert, by_source
            )
        if delete:
            # U4 delete-incoming: source keys mark rows to remove
            if self.mor:
                return publish.merge_into_mor(
                    self.spark, self.root, target,
                    staging.select(*keys).limit(0),
                    keys=keys, deletes=staging.select(*keys),
                )
            from dataintegration_ecomprovider_spark.operators import merge

            dest = publish.read_table(self.spark, self.root, target)
            new_state = merge.delete_incoming(dest, staging, keys)
            return publish.publish_tables(
                self.spark, {target: new_state}, self.root,
                table_keys={target: keys},
            )
        fn = publish.merge_into_mor if self.mor else publish.merge_into
        return fn(
            self.spark, self.root, target, staging, keys=keys,
            insert_new=insert, update_existing=update,
            evolve_schema=evolve,
        )

    def _merge_by_source(
        self, target: str, staging: DataFrame, keys: list[str],
        update: bool, insert: bool, by_source: tuple[str, str],
    ) -> dict:
        """MERGE with a WHEN NOT MATCHED BY SOURCE clause — the SQL face
        of U5 remove-missing (THEN DELETE) / U7 deactivate-missing (THEN
        UPDATE SET flag = expr), composed with the ordinary matched /
        not-matched clauses in ONE committed version.  Copy-on-write
        (publish_tables full rewrite): the by-source population is
        defined against the whole destination, so the base scan is
        inherent; at 100 TB prefer feeding remove-missing through
        merge-on-read delete markers (transaction() stages exactly
        that)."""
        from dataintegration_ecomprovider_spark.operators import merge

        dest = publish.read_table(self.spark, self.root, target)
        state = (
            merge.upsert(dest, staging, keys,
                         insert_new=insert, update_existing=update)
            if (insert or update) else dest
        )
        if by_source[0] == "delete":
            state = merge.remove_missing(state, staging, keys)
        else:
            assigns = _parse_assignments(by_source[1])
            unknown = set(assigns) - set(dest.columns)
            if unknown:
                raise ValueError(
                    f"BY SOURCE UPDATE SET references unknown column(s) "
                    f"{sorted(unknown)}"
                )
            state = merge.deactivate_missing(
                state, staging, keys,
                flags={
                    c: F.expr(e).cast(dest.schema[c].dataType)
                    for c, e in assigns.items()
                },
            )
        return publish.publish_tables(
            self.spark, {target: state}, self.root,
            table_keys={target: keys},
        )

    def _delete(self, target: str, where: str) -> dict:
        publish.register_store(self.spark, self.root, prefix=self.prefix)
        keep = self.spark.sql(
            f"SELECT * FROM {self.prefix}{target} WHERE NOT ({where}) "
            f"OR ({where}) IS NULL"
        )
        return publish.publish_tables(self.spark, {target: keep}, self.root)

    def _update(self, target: str, sets: str, where: str) -> dict:
        """UPDATE t SET ... WHERE ...: with recorded keys under mor=True
        the matched rows commit as an O(matched rows × SET columns)
        PARTIAL delta (merge_into_mor(partial_update=True) — the file
        carries keys + assigned columns only); otherwise a copy-on-write
        rewrite of the whole table (the predicate may touch any row, so
        the base read is inherent)."""
        if self.mor and publish.table_keys(self.root, target):
            keys = self._keyed(target, "UPDATE (mor)")
            return publish.merge_into_mor(
                self.spark, self.root, target,
                self._update_staging(target, sets, where, keys),
                keys=keys,
                insert_new=False, update_existing=True,
                partial_update=True,
            )
        publish.register_store(self.spark, self.root, prefix=self.prefix)
        assigns = _parse_assignments(sets)
        dest = self.spark.table(f"{self.prefix}{target}")
        unknown = set(assigns) - set(dest.columns)
        if unknown:
            raise ValueError(
                f"UPDATE {target!r} SET references unknown column(s) "
                f"{sorted(unknown)}"
            )
        hit = F.coalesce(F.expr(where), F.lit(False))
        new_state = dest.select(*[
            F.when(hit, F.expr(assigns[c]).cast(dest.schema[c].dataType))
            .otherwise(F.col(c)).alias(c)
            if c in assigns else F.col(c)
            for c in dest.columns
        ])
        return publish.publish_tables(
            self.spark, {target: new_state}, self.root
        )

    def _insert(self, target: str, select: str, ignore: bool = False) -> dict:
        publish.register_store(self.spark, self.root, prefix=self.prefix)
        rows = self.spark.sql(_unwrap_parens(select))
        _, keys = self._insert_guard(target, rows, ignore=ignore)
        fn = publish.merge_into_mor if self.mor else publish.merge_into
        return fn(
            self.spark, self.root, target, rows, keys=keys,
            insert_new=True, update_existing=False,
        )

    def _replace_where_parts(
        self, target: str, where: str, select: str, keys: list[str]
    ) -> tuple[DataFrame, DataFrame]:
        """The two halves of a REPLACE WHERE: the incoming rows (checked
        against Delta's contract — every row must satisfy the predicate,
        else the scoped replace would silently leak writes outside its
        scope) and the delete keys (matched rows NOT re-inserted; keys
        both matched and incoming become upserts, not delete+insert, so
        delete-wins resolution can never eat a replacement row)."""
        publish.register_store(self.spark, self.root, prefix=self.prefix)
        rows = self._select(_unwrap_parens(select))
        hit = F.coalesce(F.expr(where), F.lit(False))
        if rows.filter(~F.coalesce(F.expr(where), F.lit(False))).limit(1).count():
            raise ValueError(
                f"REPLACE WHERE {target!r}: the source produced rows that "
                f"do not satisfy ({where}) — a scoped replace may only "
                "write rows inside its own scope"
            )
        doomed = (
            self.spark.table(f"{self.prefix}{target}")
            .filter(hit).select(*keys)
            .join(rows.select(*keys), keys, "left_anti")
        )
        return rows, doomed

    def _replace_where(self, target: str, where: str, select: str) -> dict:
        """INSERT INTO t REPLACE WHERE <pred> <select>: atomically delete
        the rows matching <pred> and insert the incoming rows — the
        one-statement partition/predicate backfill (Delta's replaceWhere).
        mor=True with recorded keys commits O(matched + incoming) delta
        rows; otherwise a copy-on-write rewrite (keep NOT-matched ∪
        incoming).  Null predicate rows are kept, like DELETE FROM."""
        if self.mor and publish.table_keys(self.root, target):
            keys = self._keyed(target, "REPLACE WHERE (mor)")
            rows, doomed = self._replace_where_parts(
                target, where, select, keys
            )
            return publish.merge_into_mor(
                self.spark, self.root, target, rows, keys=keys,
                deletes=doomed, insert_new=True, update_existing=True,
            )
        publish.register_store(self.spark, self.root, prefix=self.prefix)
        rows = self._select(_unwrap_parens(select))
        if rows.filter(~F.coalesce(F.expr(where), F.lit(False))).limit(1).count():
            raise ValueError(
                f"REPLACE WHERE {target!r}: the source produced rows that "
                f"do not satisfy ({where}) — a scoped replace may only "
                "write rows inside its own scope"
            )
        keep = self.spark.table(f"{self.prefix}{target}").filter(
            ~F.coalesce(F.expr(where), F.lit(False))
        )
        return publish.publish_tables(
            self.spark, {target: keep.unionByName(rows)}, self.root
        )

    def _insert_overwrite(self, target: str, select: str) -> dict:
        """INSERT OVERWRITE [TABLE] t <select>: replace the table's entire
        contents in one copy-on-write commit.  Keys, partition spec and
        constraints carry forward through publish_tables like any full
        write; time travel keeps every prior version readable."""
        publish.register_store(self.spark, self.root, prefix=self.prefix)
        publish.read_table(self.spark, self.root, target)  # must exist
        rows = self._select(_unwrap_parens(select))
        return publish.publish_tables(self.spark, {target: rows}, self.root)

    # --- materialized views (IVM front-end) --------------------------------
    def _create_matview(self, target: str, select: str) -> dict:
        """CREATE MATERIALIZED VIEW v AS <select>: parse the SELECT into
        a maintain_aggregate / maintain_join spec, persist it in the
        declared-view registry (plans/materialize.declare_view) and run
        the first refresh (the seed) immediately.  Every later ``REFRESH
        MATERIALIZED VIEWS`` consumes only the source tables' CDC deltas
        — the O(delta) IVM path, never a re-aggregation.

        The maintained table's column names are CANONICAL (cnt, sum_<c>,
        min_<c>, max_<c>, avg_<c>, hll_<c>): an AS alias must match,
        because the refresh algebra updates those physical columns —
        re-alias in the SELECT that reads the view instead.  AVG(c) is
        maintained as sum_<c> + cnt and derived at read time; HAVING is
        a read-time post-filter over the canonical columns (both served
        by the SELECT front-end's view overlay / read_aggregate_view),
        so the maintenance path stays O(delta) and groups may move in
        and out of the HAVING slice freely."""
        from dataintegration_ecomprovider_spark.plans import materialize

        s = select.strip().rstrip(";").strip()
        tables = publish.current_manifest(self.root)["tables"]
        if target in tables:
            raise ValueError(
                f"table {target!r} already exists — a materialized view "
                "owns its destination table"
            )

        m = _MV_JOINAGG_RE.match(s)
        if m:
            return self._create_matview_rollup(target, m, tables)

        m = _MV_JOIN_RE.match(s)
        if m:
            fact, dim = m.group("fact"), m.group("dim")
            for t in (fact, dim):
                if t not in tables:
                    raise ValueError(f"unknown source table {t!r}")
            on = _MV_ON_RE.match(m.group("on").strip())
            sides = {on.group("ta"): on.group("ka"), on.group("tb"): on.group("kb")}
            if set(sides) != {fact, dim}:
                raise ValueError(
                    f"ON must equate {fact}.<fk> with {dim}.<key>, got "
                    f"{m.group('on')!r}"
                )
            spec: dict = {
                "fact": fact, "dim": dim, "dst": target,
                "fk": sides[fact], "dim_key": sides[dim],
                "how": "left" if (m.group("how") or "LEFT").upper() == "LEFT"
                       else "inner",
            }
            cols = m.group("cols").strip()
            if cols != "*":
                items = [c.strip() for c in cols.split(",")]
                if items[:1] != [f"{fact}.*"]:
                    raise ValueError(
                        "join-view select list must be * or "
                        f"{fact}.*, {dim}.<col>, ... (got {cols!r})"
                    )
                dim_cols = []
                for it in items[1:]:
                    t, _, c = it.partition(".")
                    if t != dim or not c or c == "*":
                        raise ValueError(
                            f"expected {dim}.<col> in select list, got {it!r}"
                        )
                    dim_cols.append(c)
                spec["dim_cols"] = dim_cols
            if m.group("where"):
                spec["fact_where"] = parse_predicate_tree(m.group("where"))
            if not publish.table_keys(self.root, fact):
                raise ValueError(
                    f"join view needs {fact!r}'s keys recorded "
                    "(publish with table_keys=)"
                )
            materialize.declare_view(self.root, "join", **spec)
            try:
                # the seed validates the spec against the actual data
                # (e.g. a WHERE column absent from the source passes the
                # syntax-only parse above but fails here) — same rollback
                # contract as the projection branch: a failed CREATE must
                # not leave a declaration for REFRESH to trip on
                return materialize.maintain_join(self.spark, self.root, **spec)
            except Exception:
                materialize.drop_view_declaration(self.root, target)
                raise

        m = _MV_AGG_RE.match(s)
        if m:
            src = m.group("src")
            if src not in tables:
                raise ValueError(f"unknown source table {src!r}")
            group_cols = [c.strip() for c in m.group("group").split(",")]
            spec = {
                "src": src, "dst": target,
                **_parse_mv_agg_items(m.group("cols"), group_cols),
            }
            if m.group("where"):
                spec["src_where"] = parse_predicate_tree(m.group("where"))
            if m.group("having"):
                spec["having"] = m.group("having").strip()
            if not publish.table_keys(self.root, src):
                raise ValueError(
                    f"aggregate view needs {src!r}'s keys recorded "
                    "(publish with table_keys=)"
                )
            if spec.get("having"):
                # resolve HAVING against the view's canonical schema
                # BEFORE declaring/seeding — plan-time only (no job), so
                # a bad reference fails the CREATE cleanly rather than
                # poisoning later REFRESHes or rolling back a seeded
                # table
                probe = materialize.aggregate_table(
                    publish.read_table(self.spark, self.root, src),
                    group_cols,
                    list(dict.fromkeys(spec["sum_cols"] + spec["avg_cols"])),
                    min_cols=spec["min_cols"], max_cols=spec["max_cols"],
                    distinct_cols=spec["distinct_cols"],
                    avg_cols=spec["avg_cols"], sum_exprs=spec["sum_exprs"],
                )
                for c in spec["exact_distinct_cols"]:
                    # read-time derived column — present in the probe so
                    # HAVING may reference it
                    probe = probe.withColumn(
                        f"cntd_{c}", F.lit(0).cast("bigint")
                    )
                materialize.derived_aggregate_columns(
                    probe, avg_cols=spec["avg_cols"], having=spec["having"]
                ).schema  # forces analysis
            materialize.declare_view(self.root, "aggregate", **spec)
            try:
                # same seed-failure rollback as the join/projection
                # branches
                return materialize.maintain_aggregate(
                    self.spark, self.root, **spec
                )
            except Exception:
                materialize.drop_view_declaration(self.root, target)
                raise

        m = _MV_PROJ_RE.match(s)
        if m:
            src = m.group("src")
            if src not in tables:
                raise ValueError(f"unknown source table {src!r}")
            spec = {
                "src": src, "dst": target,
                "exprs": _split_select_items(m.group("cols")),
            }
            if m.group("where"):
                # row-local filter: kept as SQL text (the per-key CDC
                # refresh needs no tree algebra; rows filtered OUT by an
                # update retract via the stable-key delete markers)
                spec["where"] = m.group("where").strip()
            materialize.declare_view(self.root, "projection", **spec)
            try:
                # the seed validates the exprs (key column carried,
                # Spark-parseable) — a failure must not leave a broken
                # declaration behind for the next REFRESH to trip on
                return materialize.maintain_projection(
                    self.spark, self.root, **spec
                )
            except Exception:
                materialize.drop_view_declaration(self.root, target)
                raise

        raise ValueError(
            "CREATE MATERIALIZED VIEW supports the four IVM shapes — "
            "'SELECT <group cols + aggregates> FROM src [WHERE ...] "
            "GROUP BY ... [HAVING ...]', 'SELECT *|fact.*, dim.c FROM fact [LEFT] "
            "JOIN dim ON fact.fk = dim.k [WHERE ...]', the star rollup "
            "'SELECT <t.group cols + aggregates over t.c> FROM fact "
            "[LEFT|INNER] JOIN dim ON fact.fk = dim.k [WHERE ...] GROUP "
            "BY t.c, ... [HAVING ...]' or a per-row projection "
            "'SELECT <exprs incl. the key> FROM src "
            f"[WHERE ...]': {s[:120]!r}"
        )

    def _create_matview_rollup(self, target: str, m: re.Match,
                               tables: dict) -> dict:
        """The star-rollup CREATE branch: ``SELECT dim.c, AGG(fact.x)
        FROM fact JOIN dim ON ... [WHERE ...] GROUP BY dim.c [HAVING]``
        — the first view a warehouse consumer declares.  Composed from
        the two existing maintainers: an INTERNAL join view
        ``<target>__j`` (maintain_join: fact ⋈ dim carrying exactly the
        referenced dim columns, keyed by the fact keys) feeds an
        ordinary aggregate view ``<target>`` (maintain_aggregate over
        the join view's own CDC).  Refreshes
        are O(delta) through BOTH source feeds: a fact change flows as
        the join view's delta rows; a dim change re-derives only the
        fact rows referencing it (the join maintainer's affected-key
        scoping), and those view-row updates re-aggregate only the
        groups they touch (the ± retraction algebra — a dim rename
        moving rows across groups adjusts both sides).  The dependency-
        ordered REFRESH pass (materialize._view_refresh_order) keeps
        join-before-aggregate automatically.  Every column reference in
        the select list / GROUP BY / HAVING must be table-qualified;
        WHERE is fact-side only (maintain_join's contract).

        The reference re-runs its whole export join + aggregation per
        refresh (src/EcomProvider.cs:937-966); at 100 TB this pays the
        changed rows, never the fact table."""
        from dataintegration_ecomprovider_spark.plans import materialize

        fact, dim = m.group("fact"), m.group("dim")
        for t in (fact, dim):
            if t not in tables:
                raise ValueError(f"unknown source table {t!r}")
        on = _MV_ON_RE.match(m.group("on").strip())
        sides = {on.group("ta"): on.group("ka"), on.group("tb"): on.group("kb")}
        if set(sides) != {fact, dim}:
            raise ValueError(
                f"ON must equate {fact}.<fk> with {dim}.<key>, got "
                f"{m.group('on')!r}"
            )
        cols_text, group_text = m.group("cols"), m.group("group")
        having_text = (m.group("having") or "").strip() or None
        # every t.c reference must name one of the two joined tables;
        # the referenced dim columns ride the internal join view
        body = " , ".join(filter(None, (cols_text, group_text, having_text)))
        qualifiers = {t for t, _ in re.findall(r"\b(\w+)\s*\.\s*(\w+)", body)}
        if not qualifiers <= {fact, dim}:
            raise ValueError(
                f"rollup column references must be {fact}.<col> or "
                f"{dim}.<col>, got qualifiers {sorted(qualifiers - {fact, dim})}"
            )
        dim_cols = sorted({
            c for t, c in re.findall(r"\b(\w+)\s*\.\s*(\w+)", body)
            if t == dim
        })

        def _dequalify(text: str) -> str:
            return re.sub(rf"\b(?:{fact}|{dim})\s*\.\s*", "", text)

        for g in (c.strip() for c in group_text.split(",")):
            if not re.fullmatch(r"\w+\s*\.\s*\w+", g):
                raise ValueError(
                    "rollup GROUP BY items must be table-qualified "
                    f"({fact}.<col> or {dim}.<col>), got {g!r}"
                )
        group_cols = [c.strip() for c in _dequalify(group_text).split(",")]
        agg_spec = {
            "src": f"{target}__j", "dst": target,
            **_parse_mv_agg_items(_dequalify(cols_text), group_cols),
        }
        if having_text:
            agg_spec["having"] = _dequalify(having_text)
        join_spec: dict = {
            "fact": fact, "dim": dim, "dst": f"{target}__j",
            "fk": sides[fact], "dim_key": sides[dim],
            "dim_cols": dim_cols,
            # bare JOIN means INNER here (SQL semantics; the join-view
            # shape's LEFT default covers the export-view idiom instead)
            "how": "left" if (m.group("how") or "INNER").upper() == "LEFT"
                   else "inner",
        }
        if m.group("where"):
            if re.search(rf"\b{dim}\s*\.", m.group("where")):
                raise ValueError(
                    "rollup WHERE is fact-side only (dim-side predicates "
                    "are not join-maintainable) — filter dim columns via "
                    "HAVING on a grouped dim column instead"
                )
            join_spec["fact_where"] = parse_predicate_tree(
                _dequalify(m.group("where"))
            )
        if not publish.table_keys(self.root, fact):
            raise ValueError(
                f"rollup view needs {fact!r}'s keys recorded "
                "(publish with table_keys=)"
            )
        materialize.declare_view(self.root, "join", **join_spec)
        materialize.declare_view(self.root, "aggregate", **agg_spec)
        try:
            jres = materialize.maintain_join(self.spark, self.root, **join_spec)
            ares = materialize.maintain_aggregate(
                self.spark, self.root, **agg_spec
            )
            if agg_spec.get("having"):
                # plan-time HAVING resolution against the seeded view's
                # READ schema (no job) — a bad reference fails the CREATE
                materialize.read_aggregate_view(
                    self.spark, self.root, target
                ).schema
        except Exception:
            # a failed seed must not leave either declaration behind
            materialize.drop_view_declaration(self.root, target)
            materialize.drop_view_declaration(self.root, f"{target}__j")
            raise
        return {**ares, "join_view": {"dst": jres["dst"], "mode": jres["mode"]}}

    def _show_matviews(self) -> DataFrame:
        from dataintegration_ecomprovider_spark.plans import materialize

        views = materialize.declared_views(self.root)
        # internal rollup join views (<dst>__j feeding a declared
        # aggregate view) are plumbing, not user-declared views
        internal = {
            spec["src"] for dst, spec in views.items()
            if spec.get("kind") == "aggregate"
            and spec.get("src") == f"{dst}__j"
        }
        rows = [
            (dst, spec.get("kind"),
             _json_dumps({k: v for k, v in spec.items() if k != "kind"}))
            for dst, spec in sorted(views.items())
            if dst not in internal
        ]
        return self.spark.createDataFrame(
            rows, "view string, kind string, spec string"
        ).repartition(1)


def _parse_mv_agg_items(cols_text: str, group_cols: list[str]) -> dict:
    """Parse a maintainable aggregate select list into the
    maintain_aggregate spec fragment {group_cols, sum_cols, min_cols,
    max_cols, distinct_cols, avg_cols, sum_exprs, exact_distinct_cols}
    — shared by the plain-aggregate and star-rollup CREATE branches.
    Raises on non-maintainable items, non-canonical aliases, and expr
    aliases colliding with canonical maintained columns."""
    from dataintegration_ecomprovider_spark.plans import materialize

    sum_cols: list[str] = []
    min_cols: list[str] = []
    max_cols: list[str] = []
    distinct_cols: list[str] = []
    avg_cols: list[str] = []
    sum_exprs: list[list[str]] = []
    exact_distinct_cols: list[str] = []
    for item in (c.strip() for c in _split_select_items(cols_text)):
        md = _MV_CNTD_RE.match(item)
        if md:
            arg = md.group("arg")
            canon = f"cntd_{arg}"
            alias = md.group("alias")
            if alias and alias != canon:
                raise ValueError(
                    f"COUNT(DISTINCT {arg}) is maintained under "
                    f"the canonical column name {canon!r} — alias "
                    f"it as {canon} (or re-alias when reading)"
                )
            exact_distinct_cols.append(arg)
            continue
        mm = _MV_AGG_ITEM_RE.match(item)
        if not mm:
            ms = _MV_SUM_EXPR_RE.match(item)
            if ms:
                sum_exprs.append(
                    [ms.group("alias"), ms.group("expr").strip()]
                )
                continue
            raise ValueError(
                "aggregate-view select items must be grouping "
                "columns or COUNT(*) / SUM(c) / SUM(<expr>) AS a / "
                "MIN(c) / MAX(c) / AVG(c) / COUNT(DISTINCT c) / "
                f"APPROX_COUNT_DISTINCT(c), got {item!r}"
            )
        if mm.group("col"):
            if mm.group("col") not in group_cols:
                raise ValueError(
                    f"bare column {mm.group('col')!r} must appear "
                    "in GROUP BY"
                )
            continue
        fn = mm.group("fn").upper()
        arg = mm.group("arg")
        if (fn == "COUNT") != (arg == "*"):
            raise ValueError(
                f"only COUNT(*) and {fn}(<column>) are "
                f"maintainable, got {item!r}"
            )
        if fn == "COUNT":
            canon = materialize.COUNT_COL
        elif fn == "SUM":
            sum_cols.append(arg)
            canon = f"sum_{arg}"
        elif fn == "MIN":
            min_cols.append(arg)
            canon = f"min_{arg}"
        elif fn == "MAX":
            max_cols.append(arg)
            canon = f"max_{arg}"
        elif fn == "AVG":
            # physically maintained as sum_<arg> + cnt (the only
            # self-maintainable decomposition); avg_<arg> is a
            # derived read-time column
            avg_cols.append(arg)
            canon = f"avg_{arg}"
        else:
            distinct_cols.append(arg)
            canon = f"hll_{arg}"
        alias = mm.group("alias")
        if alias and alias != canon:
            raise ValueError(
                f"{fn}({arg}) is maintained under the canonical "
                f"column name {canon!r} — alias it as {canon} (or "
                "re-alias when reading the view)"
            )
    # CREATE-time expr-alias validation: an alias
    # colliding with a canonical maintained column (cnt, sum_/
    # nncnt_/min_/max_/hll_/avg_/cntd_<c>), a group column, or
    # another expression alias would otherwise only surface at
    # seed-publish time as an opaque duplicate-column error
    reserved = {
        materialize.COUNT_COL,
        *group_cols,
        *[f"sum_{c}" for c in dict.fromkeys(sum_cols + avg_cols)],
        *[f"nncnt_{c}" for c in avg_cols],
        *[f"min_{c}" for c in min_cols],
        *[f"max_{c}" for c in max_cols],
        *[f"hll_{c}" for c in distinct_cols],
        *[f"avg_{c}" for c in avg_cols],
        *[f"cntd_{c}" for c in exact_distinct_cols],
    }
    seen_aliases: set[str] = set()
    for ealias, _eexpr in sum_exprs:
        if ealias in reserved or ealias in seen_aliases:
            raise ValueError(
                f"SUM(<expr>) alias {ealias!r} collides with a "
                "canonical maintained column, a group column, or "
                "another expression alias — choose a distinct alias"
            )
        seen_aliases.add(ealias)
    return {
        "group_cols": group_cols, "sum_cols": sum_cols,
        "min_cols": min_cols, "max_cols": max_cols,
        "distinct_cols": distinct_cols, "avg_cols": avg_cols,
        "sum_exprs": sum_exprs,
        "exact_distinct_cols": exact_distinct_cols,
    }


def _json_dumps(obj) -> str:
    import json as _json

    return _json.dumps(obj, sort_keys=True)


def store_sql(spark: SparkSession, root: str, mor: bool = False,
              prefix: str = "store_") -> StoreSQL:
    """The store's SQL DML session — see module docstring."""
    return StoreSQL(spark, root, mor=mor, prefix=prefix)

"""SQL DML surface for txn tables: ``MERGE INTO`` / ``UPDATE`` /
``DELETE FROM`` / ``INSERT INTO`` typed as ANSI SQL strings, dispatched
to the ``TxnTable`` write primitives with identical semantics.

Why a router: the Python DataSource API gives txn tables a first-class
READ surface (``format("txn")``, temp views, plain ``spark.sql``
SELECTs — the ``txn_sql_surface`` lane), but Spark's SQL DML parser
resolves write commands against catalog plugins, which Python data
sources cannot implement. The reference's entire analyst workflow is
SQL (/root/reference/init.sql:19-55 — every query its users run is a
SQL string); a warehouse whose MERGE can only be called from Python is
half a warehouse. This module closes that gap honestly: a small
library-level parser for the DML *skeleton* (verbs, clauses, the ON
equi-condition) that leaves every scalar EXPRESSION to Spark itself
(``F.expr`` / ``spark.sql``), then dispatches:

    ===============================  =================================
    SQL statement                     TxnTable primitive
    ===============================  =================================
    MERGE INTO t USING s ON ...
      WHEN [NOT] MATCHED ...          merge_upsert (strategy="cow")
                                      merge_upsert_dv (strategy="dv")
    UPDATE t SET ... [WHERE ...]      update_where (strategy="cow")
                                      update_where_dv ("dv")
    DELETE FROM t [WHERE ...]         delete_where (strategy="cow")
                                      delete_where_deferred ("dv")
    INSERT INTO t ...                 append
    INSERT OVERWRITE t ...            commit (spec-preserving overwrite)
    CREATE TABLE t (...) LOCATION     empty-snapshot create + register
    CREATE TABLE t ... AS SELECT      ctas: plan the SELECT, first commit
    ALTER TABLE t ADD COLUMNS (...)   add_columns (metadata-only commit)
    ALTER TABLE t ALTER COLUMN c
      TYPE <wider>                    widen_column_type (metadata-only)
    ALTER TABLE t RENAME COLUMN a
      TO b                            rename_column (atomic rewrite)
    ALTER TABLE t ADD CONSTRAINT n
      CHECK (expr)                    add_check_constraint (validates
                                      existing rows, then in-flight)
    ALTER TABLE t DROP CONSTRAINT n   drop_constraint (metadata-only)
    MERGE WITH SCHEMA EVOLUTION
      INTO t ...                      merge_upsert(merge_schema=True):
                                      source-only columns evolve the
                                      target additively
    SHOW TABLES [IN ns]               namespace's resolvable names
    USE '<dir>'                       attach persistent catalog dir
    USE ns                            switch the current namespace
    DROP TABLE t                      unregister (data stays; external)
    DESCRIBE HISTORY t                metadata table as a DataFrame
    DESCRIBE DETAIL t                 manifest-only table summary
    OPTIMIZE t                        compact (bin-packed small files)
    OPTIMIZE t ZORDER BY (a, b)       zorder_by (Morton clustering)
    VACUUM t [RETAIN n HOURS]         vacuum (snapshot retention)
    RESTORE t TO VERSION AS OF n      restore (rollback as new commit)
    TRUNCATE TABLE t                  delete_where(true) — file-level
                                      drop, history intact
    COPY INTO t FROM '<path>'         bulk file import as one append
    EXPORT TABLE t TO DELTA '<p>'     Delta mirror export / incremental
                                      sync (delta_export.py)
    SELECT ... t VERSION AS OF n      time travel (pinned view rewrite)
    anything else                     spark.sql (reads: temp views;
                                      ns.table refs rewritten)
    ===============================  =================================

Namespaces (round 12): every table name above may be ``ns.table``-
qualified; bare names resolve through the current namespace (default
``default``, switched by ``USE ns``). Two namespaces can hold a
same-named table; the persistent catalog keys entries by qualified
name, and plain-SQL reads of ``ns.table`` are routed through
session temp views (single-part names) by the read rewrite.

Semantics notes (all inherited from the primitives, so the SQL surface
and the Python API can never drift):

* MERGE builds the ANSI result rows itself — matched rows flow through
  the WHEN MATCHED clauses first-match-wins (a ``CASE``-chain per
  column), unmatched source rows through WHEN NOT MATCHED — and hands
  the combined row set to ``merge_upsert``, whose duplicate-key
  validation doubles as the ANSI "multiple source rows match one
  target row" error.
* ``WHEN MATCHED THEN DELETE`` rides ``merge_upsert``'s
  ``delete_keys`` (round 10): the first-matching clause decides each
  row's action, delete-matched keys drop in the SAME atomic commit.
* ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` maps to ``sync_full``
  when the statement is the canonical three-clause full-sync shape
  (unconditional UPDATE SET * / INSERT * / DELETE); other BY SOURCE
  forms are refused loudly — no single-commit primitive expresses
  them, and a quiet two-commit emulation would break atomicity.
* A registered table's session views read the snapshot that was
  current when they were built. The router rebuilds them after each of
  its own DML statements, and before any statement that names the
  table once its snapshot has moved (a commit through the Python API,
  a streaming sink or another session) — one pointer read per named
  table. A ``spark.sql`` call that bypasses the router reads the views
  as last built, and that is the intended contract: such readers get
  no per-query freshness. A temp view is a fixed plan over one
  immutable snapshot, so a bypassing reader sees a whole, consistent
  snapshot, only possibly an older one (and its scan fails once
  ``vacuum`` removes that snapshot). Re-resolving the pointer on every
  query would take the Python ``format("txn")`` source, whose per-query
  planning in Python workers is the cost the native reads removed.
  Readers that need the live snapshot use ``TxnSqlRouter.sql``,
  ``TxnTable.read`` or ``spark.read.format("txn")``.

Read path: every registered-table read the router plans — the bare and
``__ns__`` session views, ``VERSION AS OF`` / ``TIMESTAMP AS OF`` views,
a MERGE's target and a MERGE source that is itself a registered table —
is ``TxnTable.read``: the engine's native parquet snapshot scan, with
deletion vectors, column mapping and mixed partition specs applied. So
Spark plans them inside the JVM with its vectorized parquet reader and
partition-directory pruning (plus dynamic partition pruning on a MERGE
join whose source side is broadcast). A single-table ``SELECT ...
WHERE`` whose simple conjuncts let the manifest rule out files reads
through ``TxnTable.read_pruned`` instead (manifest file skipping, then
the same native scan); every other read lists the snapshot directory
and prunes by partition directory and row-group stats. ``format("txn")``
(sources/txn_source.py) is the public data-source surface — user
``spark.read`` / ``readStream``, streaming sinks and metadata tables;
the router uses it only for ``DESCRIBE HISTORY``.

Unsupported syntax raises ``ValueError`` naming the construct — never
a silent partial apply. Registry lane: ``txn_sql_dml`` (queries/
txn_live.py) proves SQL MERGE == ``merge_upsert`` on the same input
and hash-checks the final state against a DuckDB oracle.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .catalog import local_df
from .sources.txn_source import _META_SCHEMAS, history_rows
from .store import LOCAL
from .txn import TxnTable

_TOKEN_RE = re.compile(
    r"""\s*(
        '(?:[^']|'')*'                 # string literal ('' escapes)
      | `[^`]*`                        # backtick identifier
      | [A-Za-z_][A-Za-z_0-9]*         # identifier / keyword
      | \d+\.\d+ | \.\d+ | \d+         # number
      | <= | >= | <> | != | \|\| | ==  # two-char operators
      | [(),.;*=<>+\-/%]               # single-char tokens
    )""",
    re.VERBOSE,
)


def _tokenize(sql: str) -> list[str]:
    out, pos = [], 0
    s = sql.strip().rstrip(";")
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if m is None:
            raise ValueError(
                f"cannot tokenize SQL at ...{s[pos:pos + 30]!r}"
            )
        out.append(m.group(1))
        pos = m.end()
    return out


def _render(tokens: list[str]) -> str:
    """Tokens back to SQL text. Dots glue to their neighbors so
    qualified names survive the round trip."""
    parts: list[str] = []
    for t in tokens:
        if t == "." or (parts and parts[-1].endswith(".")):
            parts[-1] = parts[-1] + t
        else:
            parts.append(t)
    return " ".join(parts)


_IDENT_RE = re.compile(r"^[A-Za-z_`][A-Za-z_0-9`]*$")


class _Cursor:
    def __init__(self, tokens: list[str]):
        self.toks = tokens
        self.i = 0

    def peek(self, k: int = 0) -> str | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def kw(self, k: int = 0) -> str:
        t = self.peek(k)
        return t.upper() if t is not None else ""

    def accept(self, *kws: str) -> bool:
        """Consume the next len(kws) tokens iff they match (keywords,
        case-insensitive)."""
        for k, want in enumerate(kws):
            if self.kw(k) != want:
                return False
        self.i += len(kws)
        return True

    def expect(self, *kws: str) -> None:
        if not self.accept(*kws):
            raise ValueError(
                f"expected {' '.join(kws)} at "
                f"...{_render(self.toks[self.i:self.i + 6])!r}"
            )

    def ident(self, what: str) -> str:
        t = self.peek()
        if t is None or not _IDENT_RE.match(t):
            raise ValueError(f"expected {what}, got {t!r}")
        self.i += 1
        return t.strip("`")

    def qident(self, what: str) -> str:
        """A possibly namespace-qualified name: ``t`` or ``ns.t``."""
        name = self.ident(what)
        nxt = self.peek(1)
        if self.peek() == "." and nxt is not None and _IDENT_RE.match(nxt):
            self.i += 1
            name = f"{name}.{self.ident(what)}"
        return name

    def take_until(
        self, stops: tuple[tuple[str, ...], ...], stop_comma: bool = False
    ) -> list[str]:
        """Consume tokens until (at paren depth 0) one of the stop
        keyword sequences — or a comma, when ``stop_comma`` — begins.
        The stop itself is not consumed."""
        out: list[str] = []
        depth = 0
        while self.i < len(self.toks):
            t = self.toks[self.i]
            if t == "(":
                depth += 1
            elif t == ")":
                if depth == 0:
                    break
                depth -= 1
            if depth == 0:
                if stop_comma and t == ",":
                    break
                if any(
                    all(self.kw(k) == s[k] for k in range(len(s)))
                    for s in stops
                ):
                    break
            out.append(t)
            self.i += 1
        return out

    def done(self) -> bool:
        return self.i >= len(self.toks)


def _strip_qualifier(tokens: list[str], names: set[str]) -> list[str]:
    """Drop ``alias.`` prefixes for the given alias/table names so the
    expression resolves against a bare (un-aliased) DataFrame — the
    single-table UPDATE/DELETE case."""
    low = {n.lower() for n in names}
    out: list[str] = []
    i = 0
    while i < len(tokens):
        if (
            i + 2 < len(tokens)
            and tokens[i].lower().strip("`") in low
            and tokens[i + 1] == "."
            and _IDENT_RE.match(tokens[i + 2])
            and (i == 0 or tokens[i - 1] != ".")
        ):
            out.append(tokens[i + 2])
            i += 3
        else:
            out.append(tokens[i])
            i += 1
    return out


@dataclass
class _MatchedClause:
    cond: str | None  # AND-condition SQL, or None (unconditional)
    sets: dict[str, str] | None  # col -> expr SQL; None = UPDATE SET *
    delete: bool = False  # WHEN MATCHED ... THEN DELETE


@dataclass
class _NotMatchedClause:
    cond: str | None
    cols: list[str] | None  # None = INSERT *
    vals: list[str] | None


@dataclass
class _Merge:
    target: str
    t_alias: str
    source_sql: str  # view name or "( subquery )"
    s_alias: str
    on: list[tuple[str, str]]  # (target_col, source_col) equi-keys
    matched: list[_MatchedClause] = field(default_factory=list)
    not_matched: list[_NotMatchedClause] = field(default_factory=list)
    # WHEN NOT MATCHED BY SOURCE THEN DELETE -> the full-sync shape
    nm_by_source_delete: bool = False
    # MERGE WITH SCHEMA EVOLUTION: source-only columns evolve the target
    evolve: bool = False


def _parse_on_keys(
    tokens: list[str], t_alias: str, s_alias: str
) -> list[tuple[str, str]]:
    """ON condition -> equi-key pairs. Supported shape (the one every
    MERGE primitive underneath needs): a conjunction of
    ``t.col = s.col`` equalities, either order, both sides qualified."""
    pairs: list[tuple[str, str]] = []
    conjunct: list[str] = []
    depth = 0

    def flush() -> None:
        c = conjunct
        if (
            len(c) == 7
            and c[1] == "."
            and c[5] == "."
            and c[3] == "="
        ):
            q1, col1, q2, col2 = (
                c[0].strip("`").lower(),
                c[2].strip("`"),
                c[4].strip("`").lower(),
                c[6].strip("`"),
            )
            if q1 == t_alias.lower() and q2 == s_alias.lower():
                pairs.append((col1, col2))
                return
            if q1 == s_alias.lower() and q2 == t_alias.lower():
                pairs.append((col2, col1))
                return
        raise ValueError(
            "MERGE ON must be a conjunction of qualified equalities "
            f"target.col = source.col; got {_render(conjunct)!r}"
        )

    for t in tokens:
        if t == "(":
            depth += 1
            continue
        if t == ")":
            depth -= 1
            continue
        if depth == 0 and t.upper() == "AND":
            flush()
            conjunct = []
        else:
            conjunct.append(t)
    if conjunct:
        flush()
    if not pairs:
        raise ValueError("MERGE ON produced no equi-join keys")
    return pairs


_MERGE_STOPS = (("WHEN",),)


def _parse_merge(c: _Cursor) -> _Merge:
    c.expect("MERGE")
    # Delta's evolution opt-in syntax: MERGE WITH SCHEMA EVOLUTION INTO
    evolve = c.accept("WITH", "SCHEMA", "EVOLUTION")
    c.expect("INTO")
    target = c.qident("target table")
    t_alias = target.split(".")[-1]
    if c.accept("AS"):
        t_alias = c.ident("target alias")
    elif c.peek() is not None and c.kw() not in ("USING",):
        t_alias = c.ident("target alias")
    c.expect("USING")
    if c.peek() == "(":
        depth = 0
        start = c.i
        while True:
            t = c.peek()
            if t is None:
                raise ValueError("unbalanced ( in USING subquery")
            c.i += 1
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
                if depth == 0:
                    break
        source_sql = _render(c.toks[start:c.i])
    else:
        source_sql = c.qident("source table")
    s_alias = source_sql.split(".")[-1]
    if c.accept("AS"):
        s_alias = c.ident("source alias")
    elif c.peek() is not None and c.kw() not in ("ON",):
        s_alias = c.ident("source alias")
    if not _IDENT_RE.match(s_alias):
        raise ValueError("a subquery source needs an alias")
    c.expect("ON")
    on_toks = c.take_until(_MERGE_STOPS)
    m = _Merge(
        target=target,
        t_alias=t_alias,
        source_sql=source_sql,
        s_alias=s_alias,
        on=_parse_on_keys(on_toks, t_alias, s_alias),
        evolve=evolve,
    )
    while not c.done():
        c.expect("WHEN")
        if c.accept("NOT", "MATCHED"):
            if c.accept("BY", "SOURCE"):
                if not c.accept("THEN", "DELETE"):
                    raise ValueError(
                        "WHEN NOT MATCHED BY SOURCE supports only THEN "
                        "DELETE (the sync_full shape); conditional or "
                        "UPDATE forms have no single-commit primitive"
                    )
                m.nm_by_source_delete = True
                continue
            c.accept("BY", "TARGET")
            cond = None
            if c.accept("AND"):
                cond = _render(c.take_until((("THEN",),)))
            c.expect("THEN", "INSERT")
            if c.accept("*"):
                m.not_matched.append(_NotMatchedClause(cond, None, None))
                continue
            c.expect("(")
            cols = []
            while True:
                cols.append(c.ident("insert column"))
                if not c.accept(","):
                    break
            c.expect(")")
            c.expect("VALUES")
            c.expect("(")
            vals = []
            while True:
                vals.append(
                    _render(c.take_until(((")",),), stop_comma=True))
                )
                if not c.accept(","):
                    break
            c.expect(")")
            if len(cols) != len(vals):
                raise ValueError(
                    f"INSERT names {len(cols)} columns but supplies "
                    f"{len(vals)} values"
                )
            m.not_matched.append(_NotMatchedClause(cond, cols, vals))
        elif c.accept("MATCHED"):
            cond = None
            if c.accept("AND"):
                cond = _render(c.take_until((("THEN",),)))
            c.expect("THEN")
            if c.accept("DELETE"):
                m.matched.append(_MatchedClause(cond, None, delete=True))
                continue
            c.expect("UPDATE", "SET")
            if c.accept("*"):
                m.matched.append(_MatchedClause(cond, None))
                continue
            sets: dict[str, str] = {}
            while True:
                col = c.ident("SET column")
                if c.accept("."):  # qualified target column: t.col
                    col = c.ident("SET column")
                c.expect("=")
                sets[col] = _render(
                    c.take_until((("WHEN",),), stop_comma=True)
                )
                if not c.accept(","):
                    break
            m.matched.append(_MatchedClause(cond, sets))
        else:
            raise ValueError(
                f"expected MATCHED or NOT MATCHED after WHEN, got "
                f"{c.peek()!r}"
            )
    if not m.matched and not m.not_matched:
        raise ValueError("MERGE needs at least one WHEN clause")
    return m


def _qualify(alias: str, col: str):
    return F.col(f"{alias}.{col}")


_PRUNE_OPS = {"=", "<", "<=", ">", ">="}
_FLIP = {"=": "=", "<": ">", "<=": ">=", ">": "<", ">=": "<="}


def _literal_value(tok: str):
    """Python value of a SQL literal token, or a no-value sentinel."""
    if tok.startswith("'") and tok.endswith("'"):
        return tok[1:-1].replace("''", "'")
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        return _literal_value  # sentinel: not a literal


def prune_triples_from_where(tokens: list[str]) -> list[tuple]:
    """Conjunctive ``(col, op, literal)`` triples OVER-APPROXIMATING a
    WHERE clause, in the ``pruned_files`` grammar — so a SQL
    ``UPDATE``/``DELETE`` gets manifest file skipping without the
    caller hand-writing prune hints. Safety: pruning is an IO bound
    only (row filters decide correctness), and an over-approximation
    needs every kept file to be a superset — so we only emit triples
    for top-level AND conjuncts of the simple comparison shape, emit
    nothing when a top-level OR exists, and silently skip conjuncts we
    can't express (fewer constraints = MORE files kept = safe)."""
    depth = 0
    for t in tokens:
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and t.upper() == "OR":
            return []
    conjs: list[list[str]] = [[]]
    depth = 0
    for t in tokens:
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        if depth == 0 and t.upper() == "AND":
            conjs.append([])
        else:
            conjs[-1].append(t)
    out = []
    for c in conjs:
        if len(c) != 3 or c[1] not in _PRUNE_OPS:
            continue
        a, op, b = c
        if _IDENT_RE.match(a) and not _IDENT_RE.match(b):
            v = _literal_value(b)
            if v is not _literal_value:
                out.append((a.strip("`"), op, v))
        elif _IDENT_RE.match(b) and not _IDENT_RE.match(a):
            v = _literal_value(a)
            if v is not _literal_value:
                out.append((b.strip("`"), _FLIP[op], v))
    return out


class TxnSqlRouter:
    """The analyst write surface: register txn tables under SQL names,
    then type DML against them.

        router = TxnSqlRouter(spark)
        router.register("orders", "/data/orders")     # view + DML name
        router.sql("MERGE INTO orders t USING updates s "
                   "ON t.o_orderkey = s.o_orderkey "
                   "WHEN MATCHED THEN UPDATE SET * "
                   "WHEN NOT MATCHED THEN INSERT *")
        router.sql("SELECT count(*) FROM orders")      # fresh snapshot

    ``strategy="cow"`` (default) routes MERGE/DELETE through the
    copy-on-write primitives; ``strategy="dv"`` through the
    deletion-vector (merge-on-read) ones — same results, different
    write-amplification trade (see ``merge_upsert_dv``).
    DML returns a 1-row DataFrame ``(operation, version)``; other
    statements return ``spark.sql``'s result.
    """

    def __init__(
        self,
        spark: SparkSession,
        strategy: str = "cow",
        catalog_dir: str | None = None,
    ):
        if strategy not in ("cow", "dv"):
            raise ValueError("strategy must be 'cow' or 'dv'")
        self._spark = spark
        self._strategy = strategy
        self._tables: dict[str, TxnTable] = {}  # "ns.table" -> table
        # "ns.table" -> the snapshot version its session views read
        self._view_version: dict[str, str] = {}
        # foreign attachments ("ns.table" -> path): session views over
        # format("delta_import") / format("iceberg_import"), never
        # persisted.  Reads always; INSERT INTO appends (round 14)
        # commit against the foreign log/metadata unless the
        # attachment is PINNED to a time-travel snapshot.
        self._foreign: dict[str, str] = {}
        # "ns.table" -> (kind, pinned): kind in {"delta", "iceberg"}
        self._foreign_kind: dict[str, tuple] = {}
        self._catalog_dir: str | None = None
        self._namespace = "default"
        from .sources.txn_source import register_txn_source

        register_txn_source(spark)
        if catalog_dir is not None:
            self.use_catalog(catalog_dir)

    # -- namespaces (round 12) ------------------------------------------
    # Every table lives in a NAMESPACE (Spark/Delta's database level):
    # the registry key is the qualified lowercase "ns.table", bare names
    # resolve through the current namespace (``USE ns`` switches it),
    # and SQL accepts qualified references everywhere a table name is
    # legal — so two namespaces can hold a same-named table without
    # collision, the thing a flat name->root map cannot express.
    def _qual(self, name: str) -> tuple[str, str]:
        """(namespace, bare) of a possibly-qualified name."""
        name = name.strip("`").lower()
        if "." in name:
            ns, bare = name.split(".", 1)
            return ns, bare
        return self._namespace, name

    def _key(self, name: str) -> str:
        ns, bare = self._qual(name)
        return f"{ns}.{bare}"

    def use_namespace(self, ns: str) -> None:
        """Switch the CURRENT namespace (SQL: ``USE ns``): bare names
        resolve there, and its tables' bare temp views are (re)published
        so plain SELECTs see the switched-to tables."""
        ns = ns.strip("`").lower()
        self._namespace = ns
        for key in sorted(self._tables):
            if key.split(".", 1)[0] == ns:
                self._refresh_view(key)

    # -- persistent catalog (round 11; namespaced round 12) -------------
    # One JSON file PER QUALIFIED NAME under the catalog dir, written
    # by a durable store ``put``: registration is atomic per name, no read-
    # modify-write of a shared file, so two sessions registering
    # different tables never race (same-name races are last-writer-wins,
    # which is what re-pointing a name means). A fresh session
    # constructed with the same dir resolves every registered name
    # without touching any table; names registered by OTHER sessions
    # after attach surface via the resolve-miss / SHOW TABLES rescan
    # (one listdir — the shared-catalog contract).
    def use_catalog(self, catalog_dir: str) -> list[str]:
        """Attach (or switch to) a catalog directory: load its
        name→root mappings, keep persisting registrations there.
        Returns the loaded qualified names."""
        os.makedirs(catalog_dir, exist_ok=True)
        self._catalog_dir = catalog_dir
        return self._rescan_catalog()

    def _rescan_catalog(self) -> list[str]:
        """Load catalog-dir entries not yet (or re-pointed since) in
        memory. Cheap — one listdir + a JSON read per entry — and
        idempotent; called at attach, on a resolve miss, and by SHOW
        TABLES so another session's registrations become visible."""
        if self._catalog_dir is None:
            return []
        loaded = []
        for fn in sorted(os.listdir(self._catalog_dir)):
            if not fn.endswith(".json"):
                continue
            try:
                with open(os.path.join(self._catalog_dir, fn)) as f:
                    ent = json.load(f)
                name, root = ent["name"], ent["root"]
            except (OSError, json.JSONDecodeError, KeyError):
                continue  # torn/foreign file: not a catalog entry
            if "." not in name:  # pre-namespace catalog entry
                name = f"default.{name}"
            known = self._tables.get(self._key(name))
            if known is not None and known.root == root:
                continue
            self.register(name, root, persist=False)
            loaded.append(name)
        return loaded

    def _persist_entry(self, key: str, t: TxnTable) -> None:
        if self._catalog_dir is None:
            return
        LOCAL.put(
            os.path.join(self._catalog_dir, f"{key}.json"),
            json.dumps({"name": key, "root": t.root}),
        )

    def register(
        self,
        name: str,
        table: TxnTable | str,
        view: bool = True,
        persist: bool = True,
    ) -> TxnTable:
        t = table if isinstance(table, TxnTable) else TxnTable(table)
        key = self._key(name)
        self._tables[key] = t
        self._view_version.pop(key, None)  # a re-pointed name
        if view and t.current_version() is not None:
            self._refresh_view(key)
        if persist:
            self._persist_entry(key, t)
        return t

    @staticmethod
    def _mangled_view(key: str) -> str:
        """Session temp-view name for a QUALIFIED reference (temp views
        are single-part names, so ``ns.t`` rides as ``__ns__ns__t``)."""
        ns, bare = key.split(".", 1)
        return f"__ns__{ns}__{bare}"

    def _refresh_view(self, name: str) -> None:
        key = self._key(name)
        t = self._tables[key]
        version = t.current_version()
        df = t.read(self._spark, version)
        ns, bare = key.split(".", 1)
        if ns == self._namespace:
            df.createOrReplaceTempView(bare)
        df.createOrReplaceTempView(self._mangled_view(key))
        self._view_version[key] = version

    def _sync_views(self, toks: list[str]) -> None:
        """Rebuild the views of every registered table the statement
        names (bare or ``ns.``-qualified) whose snapshot has moved since
        they were built. Over-matching (a column that shares a table's
        name) costs one pointer read, never a wrong view."""
        keys = set()
        for i, tok in enumerate(toks):
            if not _IDENT_RE.match(tok):
                continue
            keys.add(self._key(tok))
            if (
                i + 2 < len(toks)
                and toks[i + 1] == "."
                and _IDENT_RE.match(toks[i + 2])
            ):
                keys.add(
                    f"{tok.strip('`')}.{toks[i + 2].strip('`')}".lower()
                )
        for key in sorted(keys & self._tables.keys()):
            cur = self._tables[key].current_version()
            if cur is not None and cur != self._view_version.get(key):
                self._refresh_view(key)

    def _resolve(self, name: str) -> tuple[str, TxnTable]:
        key = self._key(name)
        t = self._tables.get(key)
        if t is None and self._catalog_dir is not None:
            # another session may have registered it since attach
            self._rescan_catalog()
            t = self._tables.get(key)
        if t is None:
            raise ValueError(
                f"{name!r} is not a registered txn table "
                f"(known: {sorted(self._tables)})"
            )
        return name, t

    # ------------------------------------------------------------------
    def sql(self, statement: str, strategy: str | None = None):
        """Execute one SQL statement. DML verbs dispatch to TxnTable;
        everything else goes straight to ``spark.sql``."""
        try:
            toks = _tokenize(statement)
        except ValueError:
            # the skeleton tokenizer doesn't know every SQL lexeme
            # (comments, exotic operators); anything it can't read is
            # not one of our DML verbs in supported form, so hand the
            # statement to Spark verbatim (correct for reads, and DML
            # fails there with Spark's own unsupported-statement error)
            return self._spark.sql(statement)
        if not toks:
            raise ValueError("empty statement")
        self._sync_views(toks)
        verb = toks[0].upper()
        strat = strategy or self._strategy
        if strat not in ("cow", "dv"):
            raise ValueError("strategy must be 'cow' or 'dv'")
        if verb == "MERGE":
            return self._exec_merge(_parse_merge(_Cursor(toks)), strat)
        if verb == "UPDATE":
            return self._exec_update(_Cursor(toks), strat)
        if verb == "DELETE":
            return self._exec_delete(_Cursor(toks), strat)
        if verb == "INSERT":
            return self._exec_insert(_Cursor(toks))
        if verb == "DESCRIBE" and len(toks) >= 2 and (
            toks[1].upper() == "HISTORY"
        ):
            return self._exec_describe_history(_Cursor(toks))
        if verb == "DESCRIBE" and len(toks) >= 2 and (
            toks[1].upper() == "DETAIL"
        ):
            return self._exec_describe_detail(_Cursor(toks))
        if verb == "OPTIMIZE":
            return self._exec_optimize(_Cursor(toks))
        if verb == "VACUUM":
            return self._exec_vacuum(_Cursor(toks))
        if verb == "CREATE" and len(toks) >= 2 and (
            toks[1].upper() == "TABLE"
        ):
            # only claim txn DDL: an explicit USING <other-format>
            # belongs to Spark's own catalog surface — except the
            # read-only foreign attachments (DELTA_IMPORT,
            # ICEBERG_IMPORT)
            ups = [t.upper() for t in toks]
            if "USING" in ups:
                nxt = ups[ups.index("USING") + 1 : ups.index("USING") + 2]
                if nxt == ["DELTA_IMPORT"]:
                    return self._exec_create_delta_import(_Cursor(toks))
                if nxt == ["ICEBERG_IMPORT"]:
                    return self._exec_create_iceberg_import(
                        _Cursor(toks)
                    )
                if nxt != ["TXN"]:
                    return self._spark.sql(statement)
            return self._exec_create(_Cursor(toks))
        if verb == "ALTER" and len(toks) >= 2 and (
            toks[1].upper() == "TABLE"
        ):
            return self._exec_alter(_Cursor(toks))
        if verb == "SHOW" and len(toks) >= 2 and (
            toks[1].upper() == "TABLES"
        ):
            ns = None
            if len(toks) >= 4 and toks[2].upper() == "IN":
                ns = toks[3]
            return self._exec_show_tables(ns)
        if verb == "DROP" and len(toks) >= 2 and (
            toks[1].upper() == "TABLE"
        ):
            return self._exec_drop(_Cursor(toks))
        if verb == "RESTORE":
            return self._exec_restore(_Cursor(toks))
        if verb == "TRUNCATE":
            return self._exec_truncate(_Cursor(toks))
        if verb == "COPY":
            return self._exec_copy(_Cursor(toks))
        if verb == "EXPORT" and len(toks) >= 2 and (
            toks[1].upper() == "TABLE"
        ):
            return self._exec_export(_Cursor(toks))
        if verb == "USE" and len(toks) >= 2:
            if toks[1].startswith("'"):
                # USE '<catalog dir>': attach/switch the persistent
                # catalog
                loaded = self.use_catalog(
                    toks[1][1:-1].replace("''", "'")
                )
                return local_df(self._spark, 
                    [("use_catalog", str(len(loaded)))],
                    "operation string, version string",
                )
            # USE <ns>: switch the current namespace
            self.use_namespace(toks[1])
            return local_df(self._spark, 
                [("use_namespace", self._namespace)],
                "operation string, version string",
            )
        pruned = self._pruned_select(toks)
        if pruned is not None:
            return self._spark.sql(pruned)
        rewritten = self._rewrite_reads(toks)
        if rewritten is not None:
            return self._spark.sql(rewritten)
        return self._spark.sql(statement)

    # ------------------------------------------------------------------
    def _result(self, name: str, operation: str, version: str):
        self._refresh_view(name)
        return local_df(self._spark, 
            [(operation, version)], "operation string, version string"
        )

    def _target_schema(self, t: TxnTable) -> StructType:
        v = t.current_version()
        if v is None:
            raise ValueError(f"table at {t.root} has no committed version")
        return StructType.fromJson(t._meta(v)["schema"])

    def _exec_merge(self, m: _Merge, strat: str):
        """MERGE INTO a registered table. ``plan(target)`` builds the
        update set and the keys of the matched rows to delete from ONE
        join of the source with ``target``. A native table gives it only
        the rows of its touched files: ``TxnTable._merge_source`` first
        finds those by one join of the source's ON keys (the broadcast
        side) with the candidate files, then validates the update set and
        commits it, copy-on-write or by deletion vector. A foreign
        attachment gives it the whole table and commits through
        ``merge_delta`` / ``merge_iceberg``."""
        spark = self._spark
        fkey = self._key(m.target)
        foreign_kind = None
        if fkey in self._foreign:
            # MERGE INTO <foreign attachment> (round 16): the same
            # ANSI result-set plan below, dispatched to merge_delta /
            # merge_iceberg in auto mode (never-upgrade-protocol-from-
            # SQL — the strat knob only picks the NATIVE store's
            # encoding)
            foreign_kind, pinned = self._foreign_kind.get(
                fkey, ("delta", False)
            )
            if pinned:
                raise ValueError(
                    f"{m.target} is pinned to a time-travel snapshot "
                    "and is read-only; attach the live table to MERGE"
                )
            if m.evolve:
                raise ValueError(
                    "MERGE WITH SCHEMA EVOLUTION needs a native txn "
                    "table; merges do not evolve a foreign schema"
                )
            if m.nm_by_source_delete:
                raise ValueError(
                    "WHEN NOT MATCHED BY SOURCE THEN DELETE (full "
                    "sync) needs a native txn table"
                )
            fmt = (
                "delta_import"
                if foreign_kind == "delta"
                else "iceberg_import"
            )
            tgt_raw = spark.read.format(fmt).load(self._foreign[fkey])
            schema = tgt_raw.schema
            name, t = m.target, None
        else:
            name, t = self._resolve(m.target)
            schema = self._target_schema(t)
        if m.source_sql.startswith("("):
            src = spark.sql(m.source_sql[1:-1].strip())
        elif self._tables.get(self._key(m.source_sql)) is not None:
            # a registered txn table (possibly ns-qualified): read the
            # live snapshot directly, no temp-view indirection
            src = self._tables[self._key(m.source_sql)].read(spark)
        else:
            src = spark.table(m.source_sql)
        src = src.alias(m.s_alias)
        if m.evolve:
            # MERGE WITH SCHEMA EVOLUTION (Delta's opt-in syntax):
            # source-only columns are appended to the target schema —
            # nullable, since carried files cannot supply them — and
            # the commit lands through merge_upsert(merge_schema=True),
            # which records the evolved schema additively (old
            # snapshots keep their own schema; time travel is
            # schema-faithful).
            have = {f.name.lower() for f in schema.fields}
            from pyspark.sql.types import StructField

            added = [
                StructField(f.name, f.dataType, True)
                for f in src.schema.fields
                if f.name.lower() not in have
            ]
            schema = StructType(list(schema.fields) + added)
        tcols = schema.fieldNames()
        keys = [k for k, _ in m.on]
        cond = None
        for tk, sk in m.on:
            eq = _qualify(m.t_alias, tk) == _qualify(m.s_alias, sk)
            cond = eq if cond is None else (cond & eq)

        known = set(tcols)
        target_cols = {
            f.name
            for f in (
                schema.fields
                if t is None
                else self._target_schema(t).fields
            )
        }
        for cl in m.matched:
            bad = [c for c in (cl.sets or {}) if c not in known]
            if bad:
                raise ValueError(
                    f"UPDATE SET names unknown target columns {bad}"
                )
        if m.nm_by_source_delete:
            return self._exec_sync_full(m, name, t, schema, src)

        # One clause index per source row, first match wins: WHEN MATCHED
        # clauses are 0.. and hold on rows that found a target row, NOT
        # MATCHED ones follow and hold on rows that found none; -1 is
        # "no clause takes the row". Each clause's condition and values
        # are evaluated only on the rows it can take, as on the two
        # frames (joined, source alone) the SQL semantics name.
        n_matched = len(m.matched)
        upd_idx = [i for i, cl in enumerate(m.matched) if not cl.delete]
        del_idx = [i for i, cl in enumerate(m.matched) if cl.delete]
        ins_idx = [n_matched + j for j in range(len(m.not_matched))]
        matched = F.lit(-1)
        for i, cl in reversed(list(enumerate(m.matched))):
            cc = F.expr(cl.cond) if cl.cond is not None else F.lit(True)
            matched = F.when(cc, F.lit(i)).otherwise(matched)
        if m.not_matched:
            # -2 marks a source row that found no target row (an
            # equality ON never matches a NULL key)
            matched = F.when(
                _qualify(m.t_alias, keys[0]).isNotNull(), matched
            ).otherwise(F.lit(-2))
            not_matched = F.lit(-1)
            for i, cl in reversed(list(zip(ins_idx, m.not_matched))):
                cc = F.expr(cl.cond) if cl.cond is not None else F.lit(True)
                not_matched = F.when(cc, F.lit(i)).otherwise(not_matched)
        clause = F.col("__clause")

        def updated(f):
            # evolved (source-only) columns have no target-side value:
            # an UPDATE SET that leaves them reads typed NULL
            base = (
                _qualify(m.t_alias, f.name)
                if f.name in target_cols
                else F.lit(None)
            )
            expr = F.lit(None)
            for i in reversed(upd_idx):
                sets = m.matched[i].sets
                if sets is None:  # UPDATE SET *
                    val = _qualify(m.s_alias, f.name)
                elif f.name in sets:
                    val = F.expr(sets[f.name])
                else:
                    val = base
                expr = F.when(F.col("__matched") == i, val).otherwise(expr)
            return expr

        skey = dict(m.on)  # target key -> source key

        def inserted(f, cl):
            if cl.cols is None:  # INSERT *
                return F.col(f.name)
            low = {c.lower(): v for c, v in zip(cl.cols, cl.vals)}
            if f.name.lower() in low:
                return F.expr(low[f.name.lower()])
            if f.name in skey:
                # key columns default to the source key so the inserted
                # row is reachable by its key
                return F.col(skey[f.name])
            return F.lit(None)

        out_cols = []
        for ci, f in enumerate(schema.fields):
            expr = F.col(f"__upd{ci}") if upd_idx else F.lit(None)
            for i, cl in reversed(list(zip(ins_idx, m.not_matched))):
                expr = F.when(clause == i, inserted(f, cl)).otherwise(expr)
            # cast to the exact target schema so the commit never widens
            out_cols.append(expr.cast(f.dataType).alias(f.name))

        def plan(target: DataFrame):
            """The update set and the keys of the matched rows to delete,
            from ONE join of the source with ``target``: the target rows
            that can match (the touched files of a native table, the whole
            of a foreign one). The join's rows carry their matched clause,
            the target keys and the matched image beside the source row;
            the NOT MATCHED clauses and insert values then read the source
            row alone."""
            joined = src.join(
                target.alias(m.t_alias),
                cond,
                "left_outer" if m.not_matched else "inner",
            ).withColumn("__matched", matched)
            rows = joined.select(
                F.col("__matched").alias("__clause"),
                *[
                    _qualify(m.t_alias, tk).alias(f"__key{i}")
                    for i, (tk, _sk) in enumerate(m.on)
                ],
                *[
                    updated(f).alias(f"__upd{ci}")
                    for ci, f in enumerate(schema.fields)
                    if upd_idx
                ],
                *[_qualify(m.s_alias, c).alias(c) for c in src.columns],
            ).alias(m.s_alias)
            if m.not_matched:
                rows = rows.withColumn(
                    "__clause",
                    F.when(clause == -2, not_matched).otherwise(clause),
                )
            delete_frame = None
            if del_idx:
                delete_frame = rows.filter(clause.isin(del_idx)).select(
                    [
                        F.col(f"__key{i}").alias(tk)
                        for i, (tk, _sk) in enumerate(m.on)
                    ]
                )
            keep = upd_idx + ins_idx
            # a delete-only merge: an empty, correctly-typed update set
            updates = (
                rows.filter(clause.isin(keep)).select(out_cols)
                if keep
                else local_df(spark, [], schema)
            )
            return updates, delete_frame

        if foreign_kind is not None:
            updates, delete_frame = plan(tgt_raw)
            if foreign_kind == "delta":
                from .delta_export import merge_delta

                res = merge_delta(
                    self._spark,
                    self._foreign[fkey],
                    updates,
                    keys,
                    delete_keys=delete_frame,
                )
                ver = str(res["version"])
            else:
                from .iceberg_export import merge_iceberg

                res = merge_iceberg(
                    self._spark,
                    self._foreign[fkey],
                    updates,
                    keys,
                    delete_keys=delete_frame,
                )
                ver = str(res["snapshot_id"])
            self._refresh_foreign_views(fkey, foreign_kind)
            return local_df(
                self._spark,
                [
                    (
                        f"merge_foreign_{res['mode']}",
                        ver,
                        int(res["n_matched"]),
                    )
                ],
                "operation string, version string, n_matched bigint",
            )
        # the source's ON keys in the target's key names and types: the
        # cast update set's keys are what the rewrite replaces
        kinds = {f.name.lower(): f.dataType for f in schema.fields}
        version = t._merge_source(
            spark,
            src.select(
                [
                    _qualify(m.s_alias, sk).cast(kinds[tk.lower()]).alias(tk)
                    for tk, sk in m.on
                ]
            ),
            plan,
            keys,
            dv=strat == "dv",
            merge_schema=m.evolve,
            rewrite=bool(m.matched),
        )
        op = "merge_upsert" if strat == "cow" else "merge_upsert_dv"
        return self._result(name, op, version)

    def _exec_sync_full(self, m: _Merge, name, t, schema, src):
        """The canonical three-clause MERGE (UPDATE SET * / INSERT * /
        NOT MATCHED BY SOURCE DELETE) IS a full-snapshot sync — dispatch
        to ``sync_full``, which rewrites only the files holding a real
        change. Any other BY SOURCE combination is refused."""
        shape_ok = (
            len(m.matched) == 1
            and m.matched[0].cond is None
            and m.matched[0].sets is None
            and not m.matched[0].delete
            and len(m.not_matched) == 1
            and m.not_matched[0].cond is None
            and m.not_matched[0].cols is None
        )
        if not shape_ok:
            raise ValueError(
                "WHEN NOT MATCHED BY SOURCE THEN DELETE is supported "
                "only in the full-sync shape: unconditional WHEN "
                "MATCHED THEN UPDATE SET * + WHEN NOT MATCHED THEN "
                "INSERT * (sync_full semantics)"
            )
        for tk, sk in m.on:
            if tk != sk:
                src = src.withColumnRenamed(sk, tk)
        missing = [
            f.name for f in schema.fields if f.name not in src.columns
        ]
        if missing:
            raise ValueError(
                f"full-sync source is missing target columns {missing}"
            )
        aligned = src.select(
            [
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
        version = t.sync_full(
            self._spark, aligned, keys=[tk for tk, _ in m.on]
        )
        return self._result(name, "sync_full", version)

    def _exec_update(self, c: _Cursor, strat: str = "cow"):
        c.expect("UPDATE")
        target = c.qident("table")
        if self._key(target) in self._foreign:
            return self._exec_update_foreign(
                c, target, self._key(target)
            )
        alias = target.split(".")[-1]
        if c.accept("AS"):
            alias = c.ident("alias")
        elif c.kw() != "SET":
            alias = c.ident("alias")
        name, t = self._resolve(target)
        c.expect("SET")
        quals = {target, alias}
        sets: dict[str, str] = {}
        while True:
            col = c.ident("SET column")
            if c.accept("."):
                if col.lower() not in {q.lower() for q in quals}:
                    raise ValueError(
                        f"SET qualifier {col!r} does not name the "
                        "target table"
                    )
                col = c.ident("SET column")
            c.expect("=")
            sets[col] = _render(
                _strip_qualifier(
                    c.take_until((("WHERE",),), stop_comma=True), quals
                )
            )
            if not c.accept(","):
                break
        cond = F.lit(True)
        prune: list[tuple] = []
        if c.accept("WHERE"):
            where = _strip_qualifier(c.take_until(()), quals)
            cond = F.expr(_render(where))
            prune = prune_triples_from_where(where)
        if not c.done():
            raise ValueError(
                f"unexpected trailing tokens: "
                f"{_render(c.toks[c.i:])!r}"
            )
        op = "update_where" if strat == "cow" else "update_where_dv"
        version = getattr(t, op)(
            self._spark,
            cond,
            {k: F.expr(v) for k, v in sets.items()},
            prune=prune or None,
        )
        return self._result(name, op, version)

    def _exec_delete(self, c: _Cursor, strat: str):
        c.expect("DELETE", "FROM")
        target = c.qident("table")
        if self._key(target) in self._foreign:
            return self._exec_delete_foreign(
                c, target, self._key(target)
            )
        alias = target.split(".")[-1]
        if c.accept("AS"):
            alias = c.ident("alias")
        elif not c.done() and c.kw() != "WHERE":
            alias = c.ident("alias")
        name, t = self._resolve(target)
        quals = {target, alias}
        cond = F.lit(True)
        prune: list[tuple] = []
        if c.accept("WHERE"):
            where = _strip_qualifier(c.take_until(()), quals)
            cond = F.expr(_render(where))
            prune = prune_triples_from_where(where)
        if not c.done():
            raise ValueError(
                f"unexpected trailing tokens: "
                f"{_render(c.toks[c.i:])!r}"
            )
        op = "delete_where" if strat == "cow" else "delete_where_deferred"
        version = getattr(t, op)(self._spark, cond, prune=prune or None)
        return self._result(name, op, version)

    # -- utility statements (Delta's SQL maintenance surface) ----------
    def _exec_describe_history(self, c: _Cursor):
        c.expect("DESCRIBE", "HISTORY")
        name, t = self._resolve(c.qident("table"))
        return local_df(
            self._spark, history_rows(t), _META_SCHEMAS["history"]
        )

    def _exec_export(self, c: _Cursor):
        """``EXPORT TABLE t TO DELTA '<path>'``: open-format interop
        from the analyst surface. First call bootstraps a full Delta
        export of the live snapshot; later calls incrementally sync
        the mirror (one add/remove commit, spec ``txn`` resume,
        checkpoint every 10 commits) — see ``delta_export.py``.
        ``EXPORT TABLE t TO ICEBERG '<path>'`` mirrors the snapshot as
        a conformant Iceberg v2 table with the SAME incremental
        economics (round 14: ``export_iceberg_sync`` — first call
        bootstraps, later calls append one fast-append/overwrite
        snapshot per commit range, untouched manifests carried by
        reference)."""
        from .delta_export import export_delta_sync

        c.expect("EXPORT", "TABLE")
        name, t = self._resolve(c.qident("table"))
        if c.accept("TO", "ICEBERG"):
            path_tok = c.peek()
            if path_tok is None or not path_tok.startswith("'"):
                raise ValueError(
                    "EXPORT TABLE expects TO ICEBERG '<path>'"
                )
            c.i += 1
            dest = path_tok[1:-1].replace("''", "'")
            from .iceberg_export import export_iceberg_sync

            iout = export_iceberg_sync(t, dest)
            iop = (
                "export_iceberg"
                if iout.get("synced_from") is None
                else "export_iceberg_sync"
            )
            idetail = (
                t.current_version()
                if iout.get("snapshot_seq") is not None
                else "noop"
            )
            return local_df(self._spark, 
                [(iop, idetail)],
                "operation string, version string",
            )
        c.expect("TO", "DELTA")
        path_tok = c.peek()
        if path_tok is None or not path_tok.startswith("'"):
            raise ValueError("EXPORT TABLE expects TO DELTA '<path>'")
        c.i += 1
        dest = path_tok[1:-1].replace("''", "'")
        out = export_delta_sync(t, dest)
        op = (
            "export_delta"
            if out.get("synced_from") is None
            else "export_delta_sync"
        )
        detail = (
            t.current_version()
            if out.get("commit") is not None
            else "noop"
        )
        return local_df(self._spark, 
            [(op, detail)], "operation string, version string"
        )

    def _exec_describe_detail(self, c: _Cursor):
        """``DESCRIBE DETAIL t`` (Delta's table-summary statement): one
        row of table-level facts, ALL from the live snapshot's manifest
        — no data file opened, no directory listed (KBs to describe a
        100 TB table, same contract as the metadata tables)."""
        c.expect("DESCRIBE", "DETAIL")
        name, t = self._resolve(c.qident("table"))
        v = t.current_version()
        if v is None:
            raise ValueError(f"table at {t.root} has no committed version")
        meta = t._meta(v)
        entries = t.file_entries(v)
        schema = StructType.fromJson(meta["schema"])
        row = (
            "txn",
            t.root,
            v,
            len(entries),
            sum(int(e.get("bytes", 0)) for e in entries.values()),
            sum(int(e.get("rows", 0)) for e in entries.values()),
            list(meta.get("partition_by") or []),
            len(schema.fields),
            sorted(meta.get("constraints") or {}),
            bool(meta.get("cdf", False)),
            t.has_deletion_vectors(v),
        )
        return local_df(self._spark, 
            [row],
            "format string, location string, version string, "
            "num_files long, size_bytes long, num_rows long, "
            "partition_columns array<string>, n_cols int, "
            "check_constraints array<string>, cdf_enabled boolean, "
            "has_deletion_vectors boolean",
        )

    def _exec_optimize(self, c: _Cursor):
        c.expect("OPTIMIZE")
        target = c.qident("table")
        if self._key(target) in self._foreign:
            return self._exec_optimize_foreign(
                c, target, self._key(target)
            )
        name, t = self._resolve(target)
        if c.accept("ZORDER", "BY"):
            c.expect("(")
            cols = []
            while True:
                cols.append(c.ident("zorder column"))
                if not c.accept(","):
                    break
            c.expect(")")
            version = t.zorder_by(self._spark, cols)
            return self._result(name, "zorder", version)
        version = t.compact(self._spark)
        return self._result(name, "compact", version)

    def _exec_vacuum(self, c: _Cursor):
        c.expect("VACUUM")
        target = c.qident("table")
        if self._key(target) in self._foreign:
            return self._exec_vacuum_foreign(
                c, target, self._key(target)
            )
        name, t = self._resolve(target)
        retain = None
        keep = 2
        while not c.done():
            if c.accept("RETAIN"):
                retain = float(c.peek())
                c.i += 1
                c.expect("HOURS")
            elif c.accept("KEEP"):
                keep = int(c.peek())
                c.i += 1
            else:
                raise ValueError(
                    f"unexpected VACUUM clause at {c.peek()!r}"
                )
        dropped = t.vacuum(keep=keep, retain_hours=retain)
        self._refresh_view(name)
        return local_df(self._spark, 
            [("vacuum", f"dropped={len(dropped)}")],
            "operation string, version string",
        )

    def _exec_create(self, c: _Cursor):
        """``CREATE TABLE name (<ddl>) USING TXN [PARTITIONED BY (...)]
        LOCATION '<path>'`` — or CTAS: the column list replaced by a
        trailing ``AS SELECT ...``, planned by Spark and written as the
        table's first snapshot (one job: the SELECT's plan feeds the
        partitioned parquet write directly, no intermediate
        materialization)."""
        c.expect("CREATE", "TABLE")
        if_not_exists = c.accept("IF", "NOT", "EXISTS")
        name = c.qident("table")
        ddl = None
        if c.accept("("):
            ddl = _render(c.take_until(((")",),)))
            c.expect(")")
        c.accept("USING", "TXN")
        partition_by: list[str] = []
        if c.accept("PARTITIONED", "BY"):
            c.expect("(")
            while True:
                partition_by.append(c.ident("partition column"))
                if not c.accept(","):
                    break
            c.expect(")")
        if not c.accept("LOCATION"):
            raise ValueError(
                "CREATE TABLE needs LOCATION '<path>' (txn tables are "
                "path-addressed)"
            )
        loc_tok = c.peek()
        if loc_tok is None or not loc_tok.startswith("'"):
            raise ValueError("LOCATION expects a quoted path")
        c.i += 1
        root = loc_tok[1:-1].replace("''", "'")
        select_sql = None
        from_delta = None
        from_iceberg = None
        if c.accept("AS"):
            rest = c.take_until(((";",),))
            if not rest or rest[0].upper() != "SELECT":
                raise ValueError("CREATE TABLE ... AS expects a SELECT")
            select_sql = _render(rest)
        elif c.accept("FROM", "DELTA"):
            # zero-copy CONVERT: adopt a foreign Delta table's files by
            # hard link with stats from its log (delta_export.py
            # convert_from_delta — the reverse of Delta's CONVERT TO
            # DELTA); the partition spec comes from the log, not the
            # statement
            src_tok = c.peek()
            if src_tok is None or not src_tok.startswith("'"):
                raise ValueError("FROM DELTA expects a quoted path")
            c.i += 1
            from_delta = src_tok[1:-1].replace("''", "'")
            if partition_by:
                raise ValueError(
                    "FROM DELTA derives the partition spec from the "
                    "Delta log; drop PARTITIONED BY"
                )
        elif c.accept("FROM", "ICEBERG"):
            # zero-copy CONVERT of a foreign Iceberg table (round 13,
            # iceberg_import.py convert_from_iceberg): files by hard
            # link, stats from the manifest bounds, field-id binding
            # adopted as a txn column mapping; the converted table is
            # unpartitioned by design (identity partition columns live
            # inside Iceberg data files)
            src_tok = c.peek()
            if src_tok is None or not src_tok.startswith("'"):
                raise ValueError("FROM ICEBERG expects a quoted path")
            c.i += 1
            from_iceberg = src_tok[1:-1].replace("''", "'")
            if partition_by:
                raise ValueError(
                    "FROM ICEBERG adopts unpartitioned (identity "
                    "partition columns live inside Iceberg data "
                    "files); drop PARTITIONED BY"
                )
        if (
            ddl is None
            and select_sql is None
            and from_delta is None
            and from_iceberg is None
        ):
            raise ValueError(
                "CREATE TABLE needs a column list, AS SELECT, "
                "FROM DELTA '<path>', or FROM ICEBERG '<path>'"
            )
        if ddl is not None and (
            select_sql or from_delta or from_iceberg
        ) is not None:
            raise ValueError(
                "CREATE TABLE takes a column list OR AS SELECT / "
                "FROM DELTA / FROM ICEBERG, not both"
            )
        t = TxnTable(root)
        if t.current_version() is not None:
            if if_not_exists:
                self.register(name, t)
                return self._result(name, "create_noop", t.current_version())
            raise ValueError(f"table already exists at {root}")
        if from_delta is not None:
            from .delta_export import convert_from_delta

            t = convert_from_delta(self._spark, from_delta, root)
            self.register(name, t)
            return self._result(
                name, "convert_from_delta", t.current_version()
            )
        if from_iceberg is not None:
            from .iceberg_import import convert_from_iceberg

            t = convert_from_iceberg(self._spark, from_iceberg, root)
            self.register(name, t)
            return self._result(
                name, "convert_from_iceberg", t.current_version()
            )
        if select_sql is not None:
            version = t.commit(
                self._spark.sql(select_sql),
                partition_by=partition_by or None,
                operation="ctas",
            )
            self.register(name, t)
            return self._result(name, "ctas", version)
        schema = StructType.fromDDL(ddl)
        import tempfile as _tempfile

        empty = _tempfile.mkdtemp(prefix="txn_create_")
        try:
            version = t.commit_staged(
                empty,
                overwrite=True,
                schema=schema,
                partition_by=partition_by or None,
            )
        finally:
            import shutil as _shutil

            _shutil.rmtree(empty, ignore_errors=True)
        self.register(name, t)
        return self._result(name, "create", version)

    def _exec_alter(self, c: _Cursor):
        """``ALTER TABLE t ADD COLUMNS (c TYPE, ...)`` → metadata-only
        additive evolution; ``RENAME COLUMN a TO b`` and ``DROP COLUMN
        c`` → metadata-only via id-based column mapping
        (``TxnTable.rename_column`` / ``drop_column`` — zero files
        written, time travel keeps each snapshot's own schema); ``ALTER
        COLUMN c TYPE t`` → metadata-only widening. Narrowing / lossy
        type changes still fail loudly rather than guessing."""
        c.expect("ALTER", "TABLE")
        name, t = self._resolve(c.qident("table"))
        if c.accept("ADD", "COLUMNS") or c.accept("ADD", "COLUMN"):
            c.expect("(")
            ddl = _render(c.take_until(((")",),)))
            c.expect(")")
            version = t.add_columns(self._spark, ddl)
            return self._result(name, "add_columns", version)
        if c.accept("RENAME", "COLUMN"):
            old = c.ident("column")
            c.expect("TO")
            new = c.ident("column")
            version = t.rename_column(self._spark, old, new)
            return self._result(name, "rename_column", version)
        if c.accept("ALTER", "COLUMN"):
            col = c.ident("column")
            c.expect("TYPE")
            ty = _render(c.take_until(((";",),)))
            version = t.widen_column_type(self._spark, col, ty)
            return self._result(name, "widen_type", version)
        if c.accept("ADD", "CONSTRAINT"):
            cname = c.ident("constraint")
            c.expect("CHECK")
            c.expect("(")
            expr = _render(c.take_until(((")",),)))
            c.expect(")")
            version = t.add_check_constraint(self._spark, cname, expr)
            return self._result(name, "add_constraint", version)
        if c.accept("DROP", "CONSTRAINT"):
            cname = c.ident("constraint")
            version = t.drop_constraint(self._spark, cname)
            return self._result(name, "drop_constraint", version)
        if c.accept("DROP", "COLUMN"):
            col = c.ident("column")
            version = t.drop_column(self._spark, col)
            return self._result(name, "drop_column", version)
        raise ValueError(
            "unsupported ALTER TABLE clause "
            f"{_render(c.toks[c.i:c.i + 4])!r}: supported forms are ADD "
            "COLUMNS, ALTER COLUMN ... TYPE (widening), RENAME COLUMN, "
            "DROP COLUMN, ADD/DROP CONSTRAINT — narrowing or lossy type "
            "changes need an explicit rewrite"
        )

    def _exec_show_tables(self, ns: str | None = None):
        """``SHOW TABLES [IN ns]``: the given (default: current)
        namespace's resolvable names — session registrations plus the
        persisted catalog mappings, re-scanned so tables another
        session registered since attach are included."""
        self._rescan_catalog()
        want = (ns or self._namespace).strip("`").lower()
        rows = sorted(
            (want, key.split(".", 1)[1], t.root, t.current_version() or "")
            for key, t in self._tables.items()
            if key.split(".", 1)[0] == want
        )
        return local_df(self._spark, 
            rows or [],
            "namespace string, name string, location string, "
            "version string",
        )

    def _exec_create_delta_import(self, c: _Cursor):
        """``CREATE TABLE name USING DELTA_IMPORT LOCATION '<path>'
        [VERSION AS OF n]`` — attach a FOREIGN Delta table (one this
        engine did not write) as a read-only session view over
        ``format("delta_import")`` (sources/delta_import_source.py):
        checkpoint-seeded log replay, authoritative partitionValues,
        columnMapping=name resolution, add.stats file skipping. The
        attachment is session-scoped (nothing is persisted — the
        foreign log is the source of truth); DML against it fails as
        it would against any non-txn view."""
        from .sources.delta_import_source import (
            register_delta_import_source,
        )

        c.expect("CREATE", "TABLE")
        if_not_exists = c.accept("IF", "NOT", "EXISTS")
        name = c.qident("table")
        c.expect("USING", "DELTA_IMPORT")
        if not c.accept("LOCATION"):
            raise ValueError(
                "CREATE TABLE ... USING DELTA_IMPORT needs "
                "LOCATION '<path>'"
            )
        loc_tok = c.peek()
        if loc_tok is None or not loc_tok.startswith("'"):
            raise ValueError("LOCATION expects a quoted path")
        c.i += 1
        path = loc_tok[1:-1].replace("''", "'")
        version = None
        timestamp = None
        if c.accept("VERSION", "AS", "OF"):
            vt = c.peek()
            if vt is None:
                raise ValueError("VERSION AS OF needs a version number")
            c.i += 1
            version = int(vt)
        elif c.accept("TIMESTAMP", "AS", "OF"):
            tt = c.peek()
            if tt is None or not tt.startswith("'"):
                raise ValueError(
                    "TIMESTAMP AS OF needs a quoted timestamp"
                )
            c.i += 1
            timestamp = tt[1:-1].replace("''", "'")
        key = self._key(name)
        # Refuse to shadow an existing table: attaching over a txn
        # table would overwrite its temp views while leaving the stale
        # entry in self._tables (SHOW TABLES lists it, SELECTs fail
        # after DROP takes the _foreign branch) — same guard as
        # _exec_create's 'table already exists'.
        if key in self._tables:
            raise ValueError(
                f"table {name} already exists (txn table); DROP it "
                "before attaching a foreign Delta table under the name"
            )
        if key in self._foreign:
            if if_not_exists:
                return local_df(self._spark, 
                    [("attach_delta_import_exists", self._foreign[key])],
                    "operation string, version string",
                )
            raise ValueError(
                f"table {name} already exists (foreign attachment at "
                f"{self._foreign[key]!r}); use IF NOT EXISTS or DROP it"
            )
        register_delta_import_source(self._spark)
        reader = self._spark.read.format("delta_import")
        if version is not None:
            reader = reader.option("version", version)
        if timestamp is not None:
            reader = reader.option("timestampAsOf", timestamp)
        df = reader.load(path)
        ns, bare = key.split(".", 1)
        if ns == self._namespace:
            df.createOrReplaceTempView(bare)
        df.createOrReplaceTempView(self._mangled_view(key))
        self._foreign[key] = path
        self._foreign_kind[key] = (
            "delta",
            version is not None or timestamp is not None,
        )
        return local_df(self._spark, 
            [("attach_delta_import", path)],
            "operation string, version string",
        )

    def _exec_create_iceberg_import(self, c: _Cursor):
        """``CREATE TABLE name USING ICEBERG_IMPORT LOCATION '<path>'
        [SNAPSHOT AS OF <id> | TIMESTAMP AS OF '<ts>']`` — attach a
        read-only FOREIGN Iceberg table (round 13;
        iceberg_import_source.py, the Iceberg twin of the DELTA_IMPORT
        verb; TIMESTAMP AS OF resolves through the metadata
        snapshot-log, round 14).  Session-scoped views over the
        metadata-replayed snapshot; DROP TABLE detaches without
        touching the foreign tree."""
        from .sources.iceberg_import_source import (
            register_iceberg_import_source,
        )

        c.expect("CREATE", "TABLE")
        if_not_exists = c.accept("IF", "NOT", "EXISTS")
        name = c.qident("table")
        c.expect("USING", "ICEBERG_IMPORT")
        if not c.accept("LOCATION"):
            raise ValueError(
                "CREATE TABLE ... USING ICEBERG_IMPORT needs "
                "LOCATION '<path>'"
            )
        loc_tok = c.peek()
        if loc_tok is None or not loc_tok.startswith("'"):
            raise ValueError("LOCATION expects a quoted path")
        c.i += 1
        path = loc_tok[1:-1].replace("''", "'")
        snapshot = None
        timestamp = None
        if c.accept("SNAPSHOT", "AS", "OF"):
            st = c.peek()
            if st is None:
                raise ValueError("SNAPSHOT AS OF needs a snapshot id")
            c.i += 1
            snapshot = int(st)
        elif c.accept("TIMESTAMP", "AS", "OF"):
            tt = c.peek()
            if tt is None or not tt.startswith("'"):
                raise ValueError(
                    "TIMESTAMP AS OF needs a quoted timestamp"
                )
            c.i += 1
            timestamp = tt[1:-1].replace("''", "'")
        key = self._key(name)
        # same shadow guard as the Delta attach
        if key in self._tables:
            raise ValueError(
                f"table {name} already exists (txn table); DROP it "
                "before attaching a foreign Iceberg table under the name"
            )
        if key in self._foreign:
            if if_not_exists:
                return local_df(self._spark, 
                    [
                        (
                            "attach_iceberg_import_exists",
                            self._foreign[key],
                        )
                    ],
                    "operation string, version string",
                )
            raise ValueError(
                f"table {name} already exists (foreign attachment at "
                f"{self._foreign[key]!r}); use IF NOT EXISTS or DROP it"
            )
        register_iceberg_import_source(self._spark)
        reader = self._spark.read.format("iceberg_import")
        if snapshot is not None:
            reader = reader.option("snapshotId", snapshot)
        if timestamp is not None:
            reader = reader.option("timestampAsOf", timestamp)
        df = reader.load(path)
        ns, bare = key.split(".", 1)
        if ns == self._namespace:
            df.createOrReplaceTempView(bare)
        df.createOrReplaceTempView(self._mangled_view(key))
        self._foreign[key] = path
        self._foreign_kind[key] = (
            "iceberg",
            snapshot is not None or timestamp is not None,
        )
        return local_df(self._spark, 
            [("attach_iceberg_import", path)],
            "operation string, version string",
        )

    def _exec_drop(self, c: _Cursor):
        c.expect("DROP", "TABLE")
        name = c.qident("table")
        key_f = self._key(name)
        if key_f in self._foreign:
            # foreign attachment: just drop the views
            del self._foreign[key_f]
            self._foreign_kind.pop(key_f, None)
            ns, bare = key_f.split(".", 1)
            if ns == self._namespace:
                self._spark.catalog.dropTempView(bare)
            self._spark.catalog.dropTempView(self._mangled_view(key_f))
            return local_df(self._spark, 
                [("detach_foreign", key_f)],
                "operation string, version string",
            )
        self._resolve(name)
        key = self._key(name)
        del self._tables[key]
        self._view_version.pop(key, None)
        ns, bare = key.split(".", 1)
        if ns == self._namespace:
            self._spark.catalog.dropTempView(bare)
        self._spark.catalog.dropTempView(self._mangled_view(key))
        self._spark.catalog.dropTempView(f"{self._mangled_view(key)}__pruned")
        if self._catalog_dir is not None:
            try:
                os.unlink(
                    os.path.join(self._catalog_dir, f"{key}.json")
                )
            except FileNotFoundError:
                pass
        return local_df(self._spark, 
            [("drop", key)], "operation string, version string"
        )

    def _exec_restore(self, c: _Cursor):
        c.expect("RESTORE")
        c.accept("TABLE")
        target = c.qident("table")
        c.expect("TO", "VERSION", "AS", "OF")
        v = c.peek()
        if v is None:
            raise ValueError("RESTORE needs a version")
        c.i += 1
        key = self._key(target)
        if key in self._foreign:
            # RESTORE on an attachment (round 16): Delta restores to a
            # log version (new commit, history preserved); Iceberg
            # re-points current-snapshot-id (spec rollback)
            kind, pinned = self._foreign_kind.get(
                key, ("delta", False)
            )
            if pinned:
                raise ValueError(
                    f"{target} is pinned to a time-travel snapshot "
                    "and is read-only; attach the live table to "
                    "RESTORE"
                )
            if kind == "delta":
                from .delta_export import restore_delta

                res = restore_delta(
                    self._spark, self._foreign[key], int(v)
                )
                ver = str(res["version"])
            else:
                from .iceberg_export import restore_iceberg

                res = restore_iceberg(
                    self._spark, self._foreign[key], int(v)
                )
                ver = str(res["snapshot_id"])
            self._refresh_foreign_views(key, kind)
            return local_df(self._spark, 
                [(f"restore_foreign_{kind}", ver)],
                "operation string, version string",
            )
        name, t = self._resolve(target)
        version = t.restore(
            self._spark, v if v.startswith("v") else f"v{int(v):08d}"
        )
        return self._result(name, "restore", version)

    def _exec_truncate(self, c: _Cursor):
        """``TRUNCATE TABLE t`` (round 16): delete every row, keep
        schema and history.  Native tables route through
        ``delete_where(true)`` — a file-level drop, no rewrite, time
        travel intact.  A foreign attachment commits an EMPTY
        overwrite (``overwrite_delta`` tombstones every live file;
        ``overwrite_iceberg``'s manifest list goes empty)."""
        c.expect("TRUNCATE", "TABLE")
        target = c.qident("table")
        if not c.done():
            raise ValueError(
                f"unexpected TRUNCATE clause at {c.peek()!r}"
            )
        key = self._key(target)
        if key in self._foreign:
            kind, pinned = self._foreign_kind.get(
                key, ("delta", False)
            )
            if pinned:
                raise ValueError(
                    f"{target} is pinned to a time-travel snapshot "
                    "and is read-only; attach the live table to "
                    "TRUNCATE"
                )
            schema = self._spark.table(self._mangled_view(key)).schema
            empty = local_df(self._spark, [], schema)
            return self._foreign_append(
                key, kind, empty, op="truncate"
            )
        name, t = self._resolve(target)
        version = t.delete_where(self._spark, F.lit(True))
        return self._result(name, "truncate", version)

    def _exec_copy(self, c: _Cursor):
        """``COPY INTO t FROM '<path>' FILEFORMAT = PARQUET|JSON|CSV``:
        bulk file import as one atomic append, schema-aligned.  A
        FOREIGN attachment target (round 15, r14 verdict task 7)
        routes the append through the foreign commit protocol —
        ``append_delta`` / ``append_iceberg`` — exactly like
        ``INSERT INTO``."""
        c.expect("COPY", "INTO")
        target = c.qident("table")
        if self._key(target) in self._foreign:
            key = self._key(target)
            kind, pinned = self._foreign_kind.get(key, ("delta", False))
            if pinned:
                raise ValueError(
                    f"{target} is pinned to a time-travel snapshot and "
                    "is read-only; attach the live table to COPY INTO"
                )
            schema = self._spark.table(self._mangled_view(key)).schema
            out = self._copy_source(c, schema)
            return self._foreign_append(key, kind, out, op="copy_into")
        name, t = self._resolve(target)
        schema = self._target_schema(t)
        out = self._copy_source(c, schema)
        version = t.append(out)
        return self._result(name, "copy_into", version)

    def _copy_source(self, c: _Cursor, schema):
        """Parse ``FROM '<path>' [FILEFORMAT = ...]`` and return the
        source files schema-aligned to ``schema``."""
        c.expect("FROM")
        src_tok = c.peek()
        if src_tok is None or not src_tok.startswith("'"):
            raise ValueError("COPY INTO expects FROM '<path>'")
        c.i += 1
        path = src_tok[1:-1].replace("''", "'")
        fmt = "parquet"
        if c.accept("FILEFORMAT"):
            c.expect("=")
            fmt = c.ident("file format").lower()
        if fmt not in ("parquet", "json", "csv"):
            raise ValueError(f"unsupported FILEFORMAT {fmt!r}")
        reader = self._spark.read
        if fmt == "csv":
            reader = reader.option("header", "true")
        if fmt in ("json", "csv"):
            # land with the TARGET schema so types line up
            reader = reader.schema(schema)
        df = getattr(reader, fmt)(path)
        missing = [
            f.name for f in schema.fields if f.name not in df.columns
        ]
        if missing:
            raise ValueError(
                f"COPY source is missing target columns {missing}"
            )
        return df.select(
            [
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )

    # significant tokens a TABLE REFERENCE can follow in SQL — the gate
    # that keeps alias.column references (``t.c_acctbal``) from being
    # mistaken for ``ns.table`` when a namespace shares an alias name
    _TABLE_REF_PRECEDERS = frozenset({"FROM", "JOIN", ",", "(", None})

    # depth-0 keywords that end a SELECT's WHERE clause
    _WHERE_END = frozenset(
        {"GROUP", "HAVING", "ORDER", "SORT", "CLUSTER", "DISTRIBUTE",
         "LIMIT", "OFFSET", "WINDOW"}
    )

    def _pruned_select(self, toks: list[str]) -> str | None:
        """``SELECT ... FROM <table> [[AS] alias] WHERE ...`` over ONE
        live registered table — no subquery, join or set operation —
        whose WHERE conjuncts let the manifest rule out files: bind the
        table to ``read_pruned`` over the view's snapshot, so the scan
        opens only the files whose min/max stats may match. The session
        view lists every file of the snapshot. Returns the rewritten
        statement, or None when the shape does not fit or no file is
        skipped."""
        ups = [t.upper() for t in toks]
        n = len(toks)
        if (
            ups[0] != "SELECT"
            or ups.count("SELECT") != 1
            or ups.count("FROM") != 1
            or {"JOIN", "UNION", "INTERSECT", "EXCEPT", "MINUS"} & set(ups)
        ):
            return None
        f = ups.index("FROM")
        if toks[:f].count("(") != toks[:f].count(")"):
            return None  # FROM inside a call: EXTRACT(x FROM y)
        i = f + 1
        if i >= n or not _IDENT_RE.match(toks[i]):
            return None
        if i + 2 < n and toks[i + 1] == "." and _IDENT_RE.match(toks[i + 2]):
            key = f"{toks[i].strip('`')}.{toks[i + 2].strip('`')}".lower()
            j = i + 3
        else:
            key = self._key(toks[i])
            j = i + 1
        version = self._view_version.get(key)
        if key not in self._tables or version is None:
            return None
        alias = [toks[j - 1]]  # the table's own name stays a qualifier
        if j + 1 < n and ups[j] == "AS":
            j += 1
            if ups[j] == "WHERE":
                return None
        if j < n and ups[j] != "WHERE":
            if not _IDENT_RE.match(toks[j]) or ups[j] in (
                "VERSION", "TIMESTAMP", "TABLESAMPLE", "LATERAL"
            ):
                return None
            alias = [toks[j]]
            j += 1
        if j >= n or ups[j] != "WHERE":
            return None
        end, depth = j + 1, 0
        while end < n:
            depth += toks[end] == "("
            depth -= toks[end] == ")"
            if depth == 0 and ups[end] in self._WHERE_END:
                break
            end += 1
        # with no subquery or join, every WHERE column is the table's
        triples = prune_triples_from_where(toks[j + 1 : end])
        if not triples:
            return None
        t = self._tables[key]
        kept, total = t.pruned_files(triples, version)
        # the view's own scan already prunes partition directories: only
        # a skip beyond those pays for a second scan to plan
        spec = t._meta(version).get("partition_by") or []
        parts = {c.lower() for c in spec}
        on_parts = [tr for tr in triples if tr[0].lower() in parts]
        if on_parts:
            total = len(t.pruned_files(on_parts, version)[0])
        if len(kept) == total:
            return None
        cols = self._spark.table(self._mangled_view(key)).columns
        vname = f"{self._mangled_view(key)}__pruned"
        # the view's column order (a partition column may sit last)
        t.read_pruned(self._spark, triples, version).select(
            *[F.col("`" + c.replace("`", "``") + "`") for c in cols]
        ).createOrReplaceTempView(vname)
        return _render(toks[:i] + [vname, "AS"] + alias + toks[j:])

    def _rewrite_reads(self, toks: list[str]) -> str | None:
        """Rewrite registered-table READ references for ``spark.sql``:

        * ``<table> VERSION AS OF n`` / ``TIMESTAMP AS OF x`` (bare or
          ``ns.``-qualified) -> a pinned temp view — Delta's SQL
          time-travel syntax;
        * ``ns.table`` live references in table position -> the
          qualified table's mangled temp view (``_sync_views`` keeps
          it current) — temp views are single-part names, so
          cross-namespace SELECTs can't resolve the dotted form
          natively.

        Returns the rewritten statement, or None when nothing matched
        (the statement passes through verbatim — no re-rendering risk
        for unrelated SQL)."""
        out: list[str] = []
        i = 0
        hit = False
        n = len(toks)
        while i < n:
            t = toks[i]
            name = None
            width = 1
            if _IDENT_RE.match(t or "") and (i == 0 or toks[i - 1] != "."):
                prev = toks[i - 1].upper() if i > 0 else None
                in_table_pos = prev in self._TABLE_REF_PRECEDERS
                if (
                    in_table_pos
                    and i + 2 < n
                    and toks[i + 1] == "."
                    and _IDENT_RE.match(toks[i + 2] or "")
                ):
                    q = f"{t.strip('`')}.{toks[i + 2].strip('`')}".lower()
                    if q in self._tables:
                        name = q
                        width = 3
                if name is None and self._key(t) in self._tables:
                    name = self._key(t)
            if name is not None and (
                i + width + 3 < n
                and toks[i + width].upper() in ("VERSION", "TIMESTAMP")
                and toks[i + width + 1].upper() == "AS"
                and toks[i + width + 2].upper() == "OF"
            ):
                kind = toks[i + width].lower()
                val = toks[i + width + 3]
                if val.startswith("'"):
                    val = val[1:-1].replace("''", "'")
                if kind == "timestamp":
                    try:
                        val = float(val)
                    except ValueError:
                        from datetime import datetime, timezone

                        dt = datetime.fromisoformat(val)
                        if dt.tzinfo is None:
                            dt = dt.replace(tzinfo=timezone.utc)
                        val = dt.timestamp()
                tbl = self._tables[name]
                vname = (
                    f"{name.replace('.', '__')}__tt_{kind}_"
                    + re.sub(r"[^A-Za-z0-9]", "_", str(val))
                )
                if kind == "timestamp":
                    v = tbl.version_at(val)
                else:
                    v = val if val.startswith("v") else f"v{int(val):08d}"
                # a missing version raises FileNotFoundError naming it
                tbl.read(self._spark, v).createOrReplaceTempView(vname)
                out.append(vname)
                i += width + 4
                hit = True
            elif name is not None and width == 3:
                # live qualified reference: route through the mangled
                # view (``_sync_views`` has brought it up to date)
                out.append(self._mangled_view(name))
                i += width
                hit = True
            else:
                out.append(t)
                i += 1
        return _render(out) if hit else None

    def _exec_insert(self, c: _Cursor):
        c.expect("INSERT")
        overwrite = c.accept("OVERWRITE")
        if not overwrite:
            c.expect("INTO")
        c.accept("TABLE")
        target = c.qident("table")
        if self._key(target) in self._foreign:
            return self._exec_insert_foreign(
                c, target, self._key(target), overwrite
            )
        name, t = self._resolve(target)
        schema = self._target_schema(t)
        cols: list[str] | None = None
        if c.peek() == "(":
            c.expect("(")
            cols = []
            while True:
                cols.append(c.ident("insert column"))
                if not c.accept(","):
                    break
            c.expect(")")
        rest = _render(c.toks[c.i:])
        if not rest:
            raise ValueError("INSERT needs a VALUES list or a query")
        df = self._spark.sql(rest)  # VALUES (...) or SELECT ...
        names = cols if cols is not None else schema.fieldNames()
        if len(df.columns) != len(names):
            raise ValueError(
                f"INSERT supplies {len(df.columns)} columns for "
                f"{len(names)} target columns"
            )
        df = df.toDF(*names)
        known = {f.name for f in schema.fields}
        extra = [n for n in names if n not in known]
        if extra:
            raise ValueError(f"INSERT names unknown columns {extra}")
        out = df.select(
            [
                (
                    F.col(f.name) if f.name in df.columns else F.lit(None)
                ).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
        if overwrite:
            version = t.commit(out, operation="overwrite")
            return self._result(name, "overwrite", version)
        version = t.append(out)
        return self._result(name, "append", version)

    def _exec_insert_foreign(
        self, c: _Cursor, target: str, key: str, overwrite: bool
    ):
        """``INSERT INTO`` / ``INSERT OVERWRITE`` a FOREIGN attachment
        (rounds 14/16): the commit lands against the foreign table's
        OWN log/metadata — ``append_delta``/``append_iceberg`` for
        INTO, ``overwrite_delta``/``overwrite_iceberg`` for OVERWRITE
        (one commit: every live file tombstoned + the new rows as
        fresh adds; CDF readers synthesize delete/insert rows from the
        protocol's dataChange rule) — and the session views refresh to
        the new head.  Pinned (time-travel) attachments refuse."""
        kind, pinned = self._foreign_kind.get(key, ("delta", False))
        if pinned:
            raise ValueError(
                f"{target} is pinned to a time-travel snapshot and is "
                "read-only; attach the live table to write"
            )
        cols: list[str] | None = None
        if c.peek() == "(":
            c.expect("(")
            cols = []
            while True:
                cols.append(c.ident("insert column"))
                if not c.accept(","):
                    break
            c.expect(")")
        rest = _render(c.toks[c.i:])
        if not rest:
            raise ValueError("INSERT needs a VALUES list or a query")
        df = self._spark.sql(rest)
        schema = self._spark.table(self._mangled_view(key)).schema
        names = cols if cols is not None else schema.fieldNames()
        if len(df.columns) != len(names):
            raise ValueError(
                f"INSERT supplies {len(df.columns)} columns for "
                f"{len(names)} target columns"
            )
        df = df.toDF(*names)
        known = {f.name for f in schema.fields}
        extra = [n for n in names if n not in known]
        if extra:
            raise ValueError(f"INSERT names unknown columns {extra}")
        out = df.select(
            [
                (
                    F.col(f.name) if f.name in df.columns else F.lit(None)
                ).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
        return self._foreign_append(
            key,
            kind,
            out,
            op="overwrite" if overwrite else "append",
        )

    def _foreign_append(self, key: str, kind: str, out, *, op: str):
        """Commit ``out`` against a foreign attachment's own
        log/metadata (``append_delta`` / ``append_iceberg``, or the
        overwrite twins for ``op="overwrite"``) and refresh the
        session views to the new head."""
        path = self._foreign[key]
        replaces = op in ("overwrite", "truncate")
        if kind == "delta":
            from .delta_export import append_delta, overwrite_delta

            res = (overwrite_delta if replaces else append_delta)(
                self._spark, path, out
            )
            ver = str(res["version"])
        else:
            from .iceberg_export import (
                append_iceberg,
                overwrite_iceberg,
            )

            res = (overwrite_iceberg if replaces else append_iceberg)(
                self._spark, path, out
            )
            ver = str(res["snapshot_id"])
        self._refresh_foreign_views(key, kind)
        return local_df(self._spark, 
            [(f"{op}_foreign_{kind}", ver)],
            "operation string, version string",
        )

    def _refresh_foreign_views(self, key: str, kind: str) -> None:
        """Re-resolve a foreign attachment's session views to the
        current head (the attached reader pinned its snapshot at load
        time)."""
        fmt = "delta_import" if kind == "delta" else "iceberg_import"
        df2 = self._spark.read.format(fmt).load(self._foreign[key])
        ns, bare = key.split(".", 1)
        if ns == self._namespace:
            df2.createOrReplaceTempView(bare)
        df2.createOrReplaceTempView(self._mangled_view(key))

    def _exec_optimize_foreign(self, c: _Cursor, target: str, key: str):
        """``OPTIMIZE <foreign attachment>`` (round 16, r15 verdict
        task 7): Delta attachments bin-pack compact through
        ``optimize_delta`` (a pure ``dataChange=false`` commit —
        streaming tails skip it); Iceberg attachments merge their data
        manifests through ``rewrite_manifests_iceberg`` (an O(metadata)
        ``replace`` snapshot — data bytes never move)."""
        kind, pinned = self._foreign_kind.get(key, ("delta", False))
        if pinned:
            raise ValueError(
                f"{target} is pinned to a time-travel snapshot and is "
                "read-only; attach the live table to OPTIMIZE"
            )
        compact = bool(c.accept("COMPACT"))
        zorder: list[str] | None = None
        if c.accept("ZORDER"):
            c.expect("BY")
            c.expect("(")
            zorder = []
            while True:
                zorder.append(c.ident("ZORDER column"))
                if not c.accept(","):
                    break
            c.expect(")")
        if not c.done():
            raise ValueError(
                "OPTIMIZE on a foreign attachment takes at most "
                f"COMPACT or ZORDER BY (...) (got {c.peek()!r})"
            )
        if zorder is not None and kind != "delta":
            raise ValueError(
                "ZORDER BY is a Delta layout op; an Iceberg "
                "attachment takes OPTIMIZE [COMPACT]"
            )
        if kind == "delta":
            # Delta's OPTIMIZE already IS bin-pack compaction; the
            # COMPACT word is accepted as a no-op synonym. ZORDER BY
            # re-clusters every live file by the Morton interleave.
            from .delta_export import optimize_delta

            res = optimize_delta(
                self._spark, self._foreign[key], zorder_by=zorder
            )
            op, ver, n = (
                "optimize_foreign_delta",
                str(res["version"]),
                res["n_files_removed"],
            )
        elif compact:
            # OPTIMIZE <iceberg attachment> COMPACT: bin-pack the
            # undersized data files (delete-carrying files rewritten
            # with their dead rows purged) in one replace snapshot
            from .iceberg_export import compact_data_files_iceberg

            res = compact_data_files_iceberg(
                self._spark, self._foreign[key]
            )
            op, ver, n = (
                "compact_foreign_iceberg",
                str(res["snapshot_id"]),
                res["n_rewritten"],
            )
        else:
            from .iceberg_export import rewrite_manifests_iceberg

            res = rewrite_manifests_iceberg(
                self._spark, self._foreign[key]
            )
            op, ver, n = (
                "optimize_foreign_iceberg",
                str(res["snapshot_id"]),
                res["n_manifests_before"],
            )
        self._refresh_foreign_views(key, kind)
        return local_df(self._spark, 
            [(op, ver, int(n))],
            "operation string, version string, n_compacted bigint",
        )

    def _exec_vacuum_foreign(self, c: _Cursor, target: str, key: str):
        """``VACUUM <foreign attachment> [RETAIN n HOURS]`` (round 16):
        Delta attachments delete unreferenced data/DV files older than
        the retention window (``vacuum_delta``); Iceberg attachments
        expire snapshots older than the window and garbage-collect
        files only they reference (``expire_snapshots_iceberg``)."""
        kind, pinned = self._foreign_kind.get(key, ("delta", False))
        if pinned:
            raise ValueError(
                f"{target} is pinned to a time-travel snapshot and is "
                "read-only; attach the live table to VACUUM"
            )
        retain = None
        if c.accept("RETAIN"):
            retain = float(c.peek())
            c.i += 1
            c.expect("HOURS")
        if not c.done():
            raise ValueError(
                f"unexpected VACUUM clause at {c.peek()!r}"
            )
        if kind == "delta":
            from .delta_export import vacuum_delta

            res = vacuum_delta(
                self._spark, self._foreign[key], retain_hours=retain
            )
            op, n = "vacuum_foreign_delta", res["n_removed"]
        else:
            import time as _time

            from .iceberg_export import expire_snapshots_iceberg

            cutoff = (
                int((_time.time() - retain * 3600.0) * 1000)
                if retain is not None
                else None
            )
            res = expire_snapshots_iceberg(
                self._spark, self._foreign[key], older_than_ms=cutoff
            )
            op, n = "vacuum_foreign_iceberg", res["n_files_deleted"]
        self._refresh_foreign_views(key, kind)
        return local_df(self._spark, 
            [(op, f"dropped={int(n)}")],
            "operation string, version string",
        )

    def _exec_update_foreign(self, c: _Cursor, target: str, key: str):
        """``UPDATE <foreign attachment> SET ... [WHERE ...]``
        (round 16, r15 verdict task 5): a Delta attachment routes
        through ``update_delta``, an Iceberg attachment through
        ``update_iceberg`` — both in ``auto`` mode, preserving the
        never-upgrade-protocol-from-SQL rule (a Delta table without
        the DV feature takes copy-on-write; use the Python API's
        ``mode='dv'`` to opt into an upgrade)."""
        kind, pinned = self._foreign_kind.get(key, ("delta", False))
        if pinned:
            raise ValueError(
                f"{target} is pinned to a time-travel snapshot and is "
                "read-only; attach the live table to UPDATE"
            )
        alias = target.split(".")[-1]
        if c.accept("AS"):
            alias = c.ident("alias")
        elif c.kw() != "SET":
            alias = c.ident("alias")
        c.expect("SET")
        quals = {target, alias}
        sets: dict[str, str] = {}
        while True:
            col = c.ident("SET column")
            if c.accept("."):
                if col.lower() not in {q.lower() for q in quals}:
                    raise ValueError(
                        f"SET qualifier {col!r} does not name the "
                        "target table"
                    )
                col = c.ident("SET column")
            c.expect("=")
            sets[col] = _render(
                _strip_qualifier(
                    c.take_until((("WHERE",),), stop_comma=True), quals
                )
            )
            if not c.accept(","):
                break
        where_sql = "true"
        if c.accept("WHERE"):
            where = _strip_qualifier(c.take_until(()), quals)
            where_sql = _render(where)
        if not c.done():
            raise ValueError(
                f"unexpected trailing tokens: "
                f"{_render(c.toks[c.i:])!r}"
            )
        if kind == "delta":
            from .delta_export import update_delta

            res = update_delta(
                self._spark, self._foreign[key], sets, where_sql
            )
            ver = str(res["version"])
        else:
            from .iceberg_export import update_iceberg

            res = update_iceberg(
                self._spark, self._foreign[key], sets, where_sql
            )
            ver = str(res["snapshot_id"])
        self._refresh_foreign_views(key, kind)
        return local_df(self._spark, 
            [
                (
                    f"update_foreign_{res['mode']}",
                    ver,
                    int(res["n_matched"]),
                )
            ],
            "operation string, version string, n_matched bigint",
        )

    def _exec_delete_foreign(self, c: _Cursor, target: str, key: str):
        """``DELETE FROM <foreign attachment> [WHERE ...]`` (round 15,
        r14 verdict task 7): a Delta attachment routes through
        ``delete_delta`` in ``auto`` mode — a deletion-vector write
        when the table's protocol already carries the feature, else
        copy-on-write; the SQL surface never upgrades a foreign
        protocol (use the Python API's ``mode='dv'`` for that).  An
        Iceberg attachment routes through ``delete_iceberg`` — a spec
        position-delete file on v2 tables, Puffin deletion vectors on
        v3."""
        kind, pinned = self._foreign_kind.get(key, ("delta", False))
        if pinned:
            raise ValueError(
                f"{target} is pinned to a time-travel snapshot and is "
                "read-only; attach the live table to DELETE"
            )
        alias = target.split(".")[-1]
        if c.accept("AS"):
            alias = c.ident("alias")
        elif not c.done() and c.kw() != "WHERE":
            alias = c.ident("alias")
        quals = {target, alias}
        where_sql = "true"
        if c.accept("WHERE"):
            where = _strip_qualifier(c.take_until(()), quals)
            where_sql = _render(where)
        if not c.done():
            raise ValueError(
                f"unexpected trailing tokens: "
                f"{_render(c.toks[c.i:])!r}"
            )
        if kind == "delta":
            from .delta_export import delete_delta

            res = delete_delta(
                self._spark, self._foreign[key], where_sql
            )
            ver = str(res["version"])
        else:
            from .iceberg_export import delete_iceberg

            res = delete_iceberg(
                self._spark, self._foreign[key], where_sql
            )
            ver = str(res["snapshot_id"])
        self._refresh_foreign_views(key, kind)
        return local_df(self._spark, 
            [
                (
                    f"delete_foreign_{res['mode']}",
                    ver,
                    int(res["n_matched"]),
                )
            ],
            "operation string, version string, n_matched bigint",
        )

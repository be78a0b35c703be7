"""The three benchmark workloads.

Each workload is one client running a closed loop: the next operation
starts when the previous one has returned.  A workload object has

- `setup()`    — generate its seeded inputs, seed its store, warm up on
                 seed-disjoint inputs (all inside `setup_s`);
- `kind_of(i)` — "write" or "read": the class operation `i` belongs to;
- `op(i)`      — run operation `i` of the loop; returns the rows it
                 committed (write) or delivered (read);
- `round_len`  — the loop stops only at a multiple of this many
                 operations, so every run has the same operation mix;
- `check()`    — compare the engine's outputs with an independent
                 recompute, outside the timed window.

Why these three (BENCHMARK.json holds the one-line form of the two the
benchmark runs by default):

ecom_import  — the write side of the engine: CSV feed → surrogate ids →
  name resolution → upsert / relation swap / delete-incoming → one atomic
  copy-on-write publish.  Loads plans.pipeline, operators.merge,
  plans.publish and plans.commit_protocol; declares no views and runs no
  export, so materialize, llm and export_views must read "no change".
ecom_export  — the read side: the generated export SELECTs (catalog scans,
  multi-way joins, ordered string aggregation, PIVOT-style lists, top-1
  per group).  Writes nothing, so publish, commit_protocol and
  materialize must read "no change".  Run it with `--workload
  ecom_export`; BENCHMARK.json leaves it out because a third workload's
  runs do not fit the benchmark's total time budget beside the two
  writers (every layer it loads but export_views is loaded by them too).
corpus_ingest_search — merge-on-read ingest with declared text views kept
  current by every write, interleaved with BM25 and near-duplicate reads
  on the same store.  The only workload that loads streaming, materialize
  and llm, and the one where a write-side gain that deepens delta logs
  shows up as slower reads: every read follows a write and no log is
  compacted within a run, so each read merges the deltas the writes
  before it left on every view.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen


def compare(got: pa.Table, want: pa.Table, label: str, problems: list[str]) -> str:
    """Check that two tables hold the same multiset of rows (columns
    matched by position) and the same order-independent checksum; returns
    a one-line summary for the report."""
    import duckdb

    con = duckdb.connect()
    con.register("got", got)
    con.register("want", want)

    def checksum(t: str, cols) -> int:
        row = ", ".join(f'"{c}"' for c in cols)
        sql = f"SELECT COALESCE(SUM(hash({row})::HUGEINT), 0) FROM {t}"
        return con.execute(sql).fetchone()[0]

    extra = con.execute("SELECT * FROM got EXCEPT ALL SELECT * FROM want LIMIT 3").fetchall()
    missing = con.execute("SELECT * FROM want EXCEPT ALL SELECT * FROM got LIMIT 3").fetchall()
    sums = checksum("got", got.column_names), checksum("want", want.column_names)
    if extra or missing or got.num_rows != want.num_rows or sums[0] != sums[1]:
        problems.append(f"{label}: {got.num_rows} rows vs {want.num_rows} expected; "
                        f"extra {extra} missing {missing}")
    return (f"{label}: {got.num_rows} rows (expected {want.num_rows}), "
            f"checksum {sums[0] % 16 ** 12:012x} (expected {sums[1] % 16 ** 12:012x})")


class Workload:
    round_len = 1
    max_ops = 0            # inputs generated for at most this many operations
    root = None            # the store the loop writes, if any

    def __init__(self, spark, tmp: str, seed: int, tracer=None):
        self.spark, self.tmp, self.seed, self.tracer = spark, tmp, seed, tracer
        self.problems: list[str] = []
        self.feed_bytes = 0  # input bytes the loop's writes carried
        self.phases: dict[str, float] = {}
        self.notes: list[str] = []   # output-check details for the report

    def span(self, name: str):
        import contextlib

        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def phase(self, name: str):
        """Time one set-up phase into `self.phases` (reported per run)."""
        import contextlib
        import time

        @contextlib.contextmanager
        def timed():
            t0 = time.perf_counter()
            yield
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

        return timed()


# ---------------------------------------------------------------------------
# ecom_import
# ---------------------------------------------------------------------------

FEED_DDL = ", ".join(f"{c} string" for c in gen.FEED_COLUMNS)
# RFC 4180 quoting: the group lists carry quotes, doubled inside fields
CSV_OPTIONS = {"header": "true", "escape": "\""}


def feed_catalog(spark, sf_dir: str, feeds: dict):
    """The fixture catalog plus this job's feed frames as source tables."""
    from dataintegration_ecomprovider_spark.catalog import Catalog

    class FeedCatalog(Catalog):
        def table(self, name):
            return feeds[name] if name in feeds else super().table(name)

    return FeedCatalog(spark, sf_dir)


class EcomImport(Workload):
    """Write-only: one import job per operation."""

    scale = 1.0            # fixture rows relative to sf0.1
    feed_rows = (5000, 7000)   # feed sizes, log-uniform over this range
    maintain_every = 3     # maintain_store after every K jobs, the warm-up counted
    warm_jobs = 1
    round_len = 3          # feed sizes are stratified per round
    max_ops = 5 * round_len

    def setup(self):
        with self.phase("inputs"):
            self.fx_dir = os.path.join(self.tmp, "fixtures")
            tables = gen.fixture_tables(self.seed, self.scale, ("supplier", "part", "orders"))
            # the job reads only the supplier table through the catalog;
            # part and orders become the store's seed tables below
            gen.write_fixtures({"supplier": tables["supplier"]}, self.fx_dir)
            self.seed_dir = os.path.join(self.tmp, "seed")
            self._write_seed_tables(tables)
            # warm-up jobs run first on the same store, from their own stream
            self.feeds = (self._feeds("warmup", self.warm_jobs, tables, 1)
                          + self._feeds("loop", self.max_ops, tables, self.round_len))
        with self.phase("seed_store"):
            self.root = os.path.join(self.tmp, "store")
            self._seed_store(self.root)
        self.jobs_done = 0
        with self.phase("warm_up"):
            for j in range(self.warm_jobs):
                self._job(self.root, self.feeds[j][0])
                self.jobs_done += 1

    def _write_seed_tables(self, t) -> None:
        """The store's initial products / product_groups / orders, as
        parquet files both Spark and the DuckDB replay start from."""
        g = gen.rng(self.seed, "import-seed")
        parts = t["part"].to_pydict()
        n_sup = t["supplier"].num_rows
        pk = parts["p_partkey"]
        # a few products already carry imported ids, so the high-water
        # mark starts above zero
        imported = set(g.choice(len(pk), size=max(2, len(pk) // 50), replace=False).tolist())
        products = [
            (f"ImportedPROD{3 * i + 1}" if i in imported else str(k),
             f"PN{k}", parts["p_name"][i], float(parts["p_retailprice"][i]),
             f"MANU{k % n_sup}")
            for i, k in enumerate(pk)
        ]
        groups = [(pid, f"G{grp}", pos)
                  for (pid, *_), gl in zip(products, gen.group_lists(g, len(products)))
                  for pos, grp in enumerate(gl)]
        o = t["orders"]
        orders = pa.table({"order_id": o["o_orderkey"], "order_status": o["o_orderstatus"],
                           "order_total": o["o_totalprice"]})
        seed = {
            "products": pa.Table.from_pylist(
                [dict(zip(self.COLUMNS["products"], r)) for r in products]),
            "product_groups": pa.Table.from_pylist(
                [dict(zip(self.COLUMNS["product_groups"], r)) for r in groups]
            ).cast(pa.schema([("product_id", pa.string()), ("group_name", pa.string()),
                              ("pos", pa.int32())])),
            "orders": orders,
        }
        gen.write_fixtures(seed, self.seed_dir)

    COLUMNS = {
        "products": ("product_id", "product_number", "product_name", "price", "manufacturer_id"),
        "product_groups": ("product_id", "group_name", "pos"),
        "orders": ("order_id", "order_status", "order_total"),
    }
    KEYS = {"products": ["product_id"], "product_groups": ["product_id", "group_name"],
            "orders": ["order_id"]}

    def _seed_store(self, root):
        from dataintegration_ecomprovider_spark.plans import publish

        frames = {
            name: self.spark.read.parquet(os.path.join(self.seed_dir, f"{name}.parquet"))
            for name in self.COLUMNS
        }
        publish.publish_tables(self.spark, frames, root, table_keys=self.KEYS)

    def _feeds(self, stream, n, t, per_round):
        g = gen.rng(self.seed, f"import-{stream}")
        out = []
        sizes = gen.log_uniform_rounds(g, *self.feed_rows, per_round, -(-n // per_round))
        for j in range(n):
            cols = gen.import_feed(g, t["part"].num_rows, t["orders"].num_rows,
                                   t["supplier"].num_rows, sizes[j], j)
            path = os.path.join(self.tmp, "feeds", stream, f"feed_{j:03d}.csv")
            size = gen.write_csv(cols, path)
            out.append((path, len(cols["kind"]), size))
        return out

    def _job(self, root, path):
        from pyspark.sql import functions as F

        from dataintegration_ecomprovider_spark import runtime
        from dataintegration_ecomprovider_spark.operators import resolve, surrogate
        from dataintegration_ecomprovider_spark.operators.explode import explode_membership
        from dataintegration_ecomprovider_spark.plans import pipeline, publish
        from dataintegration_ecomprovider_spark.sources.readers import CsvSource

        spark = self.spark
        feeds: dict = {}
        cat = feed_catalog(spark, self.fx_dir, feeds)
        src = CsvSource(path, schema=FEED_DDL, options=CSV_OPTIONS).load(spark)
        prods = src.filter(F.col("kind") == "product")
        current = publish.read_table(spark, root, "products")
        hw = surrogate.high_water_mark(current, "product_id", "ImportedPROD")
        prods = surrogate.assign_surrogate_ids(
            prods, "product_id", "ImportedPROD", [F.col("product_number")], hw,
        )
        sup = cat.table("supplier")
        manus = sup.select(
            F.concat(F.lit("MANU"), F.col("s_suppkey").cast("string")).alias("manufacturer_id"),
            F.col("s_name").alias("manufacturer_name"),
        )
        prods = resolve.resolve_cascade(
            prods, [("manufacturer", manus, "manufacturer_name", "manufacturer_id")],
            "manufacturer_id",
        ).select(
            "product_id", "product_number", "product_name",
            F.col("price").cast("double").alias("price"),
            F.coalesce("manufacturer_id", F.lit("")).alias("manufacturer_id"),
            "groups",
        )
        orders = src.filter(F.col("kind") == "order").select(
            F.col("order_id").cast("bigint").alias("order_id"), "order_status",
            F.col("order_total").cast("double").alias("order_total"),
        )
        deletes = src.filter(F.col("kind") == "order_delete").select(
            F.col("order_id").cast("bigint").alias("order_id"))

        feeds.update(feed_products=prods, feed_orders=orders, feed_order_deletes=deletes)

        def derive_groups(staged):
            return explode_membership(staged, ["product_id"], "groups", "group_name").select(
                "product_id", "group_name", F.col("pos").cast("int").alias("pos"))

        R = pipeline.ColumnRule
        mappings = [
            pipeline.MappingSpec(
                "feed_products", "products",
                (R("product_id", is_key=True), R("product_number"), R("product_name"),
                 R("price"), R("manufacturer_id"), R("groups")),
                virtual_columns=("groups",),
                relation_outputs=(pipeline.RelationOutput(
                    "product_groups", derive_groups, ("product_id",)),),
            ),
            pipeline.MappingSpec(
                "feed_orders", "orders",
                (R("order_id", is_key=True), R("order_status"), R("order_total")),
            ),
            pipeline.MappingSpec(
                "feed_order_deletes", "orders", (R("order_id", is_key=True),),
                delete_incoming=True,
            ),
        ]
        pipeline.run_job_on_store(cat, root, mappings)
        runtime.release_caches(spark)

    def kind_of(self, i):
        return "write"

    def op(self, i):
        from dataintegration_ecomprovider_spark.plans import publish

        path, rows, size = self.feeds[self.warm_jobs + i]
        self._job(self.root, path)
        self.jobs_done += 1
        self.feed_bytes += size
        if self.jobs_done % self.maintain_every == 0:
            # the store declares no views: skip the view-refresh step
            report = publish.maintain_store(self.spark, self.root, keep_versions=4,
                                            refresh_views=())
            if report.get("errors"):
                raise RuntimeError(f"maintain_store: {report['errors']}")
        return rows

    def check(self):
        import duckdb

        from dataintegration_ecomprovider_spark.plans import publish

        con = duckdb.connect()
        con.execute(
            "CREATE TABLE manufacturers AS SELECT 'MANU' || s_suppkey AS manufacturer_id, "
            "s_name AS manufacturer_name FROM read_parquet(?)",
            [os.path.join(self.fx_dir, "supplier.parquet")])
        for name in self.COLUMNS:
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet(?)",
                        [os.path.join(self.seed_dir, f"{name}.parquet")])
        for path, _, _ in self.feeds[: self.jobs_done]:
            replay_feed(con, path)
        for name, cols in self.COLUMNS.items():
            got = publish.read_table(self.spark, self.root, name).select(*cols).toArrow()
            want = con.execute(f"SELECT {', '.join(cols)} FROM {name}").fetch_arrow_table()
            con.register("got", got)
            keys = ", ".join(self.KEYS[name])
            if con.execute(f"SELECT COUNT(*) - COUNT(DISTINCT ({keys})) FROM got").fetchone()[0]:
                self.problems.append(f"{name}: duplicate keys")
            self.notes.append(compare(got, want, name, self.problems))


def replay_feed(con, path: str) -> None:
    """Apply one import feed in DuckDB with the job's semantics: new
    products get ImportedPROD<hw + rank by product_number>, manufacturer
    names resolve case-insensitively (unknown → ''), products upsert,
    their group lists replace the product's relation rows, orders upsert
    and then the feed's order deletes apply."""
    columns = ", ".join(f"'{c}': 'VARCHAR'" for c in gen.FEED_COLUMNS)
    con.execute("CREATE OR REPLACE TEMP TABLE feed AS SELECT * FROM read_csv("
                f"?, header=true, columns={{{columns}}})", [path])
    hw = con.execute(
        "SELECT COALESCE(MAX(CAST(substr(product_id, 13) AS BIGINT)), 0) FROM products "
        "WHERE product_id LIKE 'ImportedPROD%' AND regexp_full_match(substr(product_id, 13), '[0-9]+')"
    ).fetchone()[0]
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE staged AS
        WITH p AS (
          SELECT * FROM feed WHERE kind = 'product'
        ), ided AS (
          SELECT CASE WHEN product_id IS NULL OR trim(product_id) = ''
                      THEN 'ImportedPROD' || CAST({hw} + ROW_NUMBER() OVER (
                             PARTITION BY (product_id IS NULL OR trim(product_id) = '')
                             ORDER BY product_number) AS VARCHAR)
                      ELSE product_id END AS product_id,
                 product_number, product_name, CAST(price AS DOUBLE) AS price,
                 manufacturer, groups
          FROM p
        )
        SELECT i.product_id, i.product_number, i.product_name, i.price,
               COALESCE(m.manufacturer_id, '') AS manufacturer_id, i.groups
        FROM ided i LEFT JOIN manufacturers m
          ON lower(i.manufacturer) = lower(m.manufacturer_name)
    """)
    con.execute("DELETE FROM products WHERE lower(product_id) IN (SELECT lower(product_id) FROM staged)")
    con.execute("INSERT INTO products SELECT product_id, product_number, product_name, price, "
                "manufacturer_id FROM staged")
    con.execute("DELETE FROM product_groups WHERE lower(product_id) IN "
                "(SELECT lower(product_id) FROM staged)")
    con.execute("""
        INSERT INTO product_groups
        SELECT product_id, trim(unnest(l), '"'), CAST(generate_subscripts(l, 1) - 1 AS INTEGER)
        FROM (SELECT product_id, list_filter(string_split(groups, ','), x -> x <> '') AS l
              FROM staged)
    """)
    con.execute("""
        CREATE OR REPLACE TEMP TABLE o AS
        SELECT CAST(order_id AS BIGINT) AS order_id, order_status,
               CAST(order_total AS DOUBLE) AS order_total
        FROM feed WHERE kind = 'order'
    """)
    con.execute("DELETE FROM orders WHERE order_id IN (SELECT order_id FROM o)")
    con.execute("INSERT INTO orders SELECT * FROM o")
    con.execute("DELETE FROM orders WHERE order_id IN "
                "(SELECT CAST(order_id AS BIGINT) FROM feed WHERE kind = 'order_delete')")


# ---------------------------------------------------------------------------
# ecom_export
# ---------------------------------------------------------------------------


class EcomExport(Workload):
    """Read-only: one export request per operation, the five views in a
    seeded order within every round of five."""

    scale = 1.0
    warm_scale = 0.05
    tables = ("part", "supplier", "lineitem", "orders", "customer", "nation", "region")
    round_len = len(gen.EXPORT_VIEWS)
    max_ops = 64 * round_len

    def setup(self):
        from dataintegration_ecomprovider_spark.catalog import Catalog

        with self.phase("inputs"):
            self.fx_dir = os.path.join(self.tmp, "fixtures")
            gen.write_fixtures(gen.fixture_tables(self.seed, self.scale, self.tables),
                               self.fx_dir)
            warm_dir = os.path.join(self.tmp, "warm_fixtures")
            gen.write_fixtures(gen.fixture_tables(self.seed + 7919, self.warm_scale,
                                                  self.tables), warm_dir)
            g = gen.rng(self.seed, "export-loop")
            self.requests = []
            for _ in range(self.max_ops // self.round_len):
                for view in g.permutation(gen.EXPORT_VIEWS):
                    lang = None
                    if view == "variant_options_export_view" and g.random() < 0.8:
                        lang = f"NATION_{int(g.integers(0, 25))}"
                    self.requests.append((str(view), lang))
        # warm-up: every view once over a small fixture set of its own
        with self.phase("warm_up"):
            warm = Catalog(self.spark, warm_dir)
            for view in gen.EXPORT_VIEWS:
                self._run(warm, view, "NATION_1")
        self.cat = Catalog(self.spark, self.fx_dir)
        self.first: dict[str, tuple] = {}

    def _run(self, cat, view, lang):
        from dataintegration_ecomprovider_spark.operators import export_views

        with self.span("operators.export_views.build"):
            fn = getattr(export_views, view)
            df = fn(cat, lang) if view == "variant_options_export_view" else fn(cat)
        with self.span("operators.export_views.exec"):
            return df.toArrow()

    def kind_of(self, i):
        return "read"

    def op(self, i):
        view, lang = self.requests[i]
        table = self._run(self.cat, view, lang)
        if view not in self.first:
            self.first[view] = (lang, table)
        return table.num_rows

    def check(self):
        import duckdb

        from dataintegration_ecomprovider_spark.operators import export_views

        con = duckdb.connect()
        for name in self.tables:
            path = os.path.join(self.fx_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        for view, (lang, table) in sorted(self.first.items()):
            oracle = getattr(export_views, view.replace("_view", "_oracle"))
            sql = oracle(lang) if view == "variant_options_export_view" else oracle()
            want = con.execute(sql).fetch_arrow_table()
            self.notes.append(compare(table, want.select(table.column_names),
                                      f"{view}({lang})", self.problems))
        missing = set(gen.EXPORT_VIEWS) - set(self.first)
        if missing:
            self.problems.append(f"views never requested: {sorted(missing)}")


# ---------------------------------------------------------------------------
# corpus_ingest_search
# ---------------------------------------------------------------------------

DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
VIEWS = (
    ("postings", {"dst": "token_postings"}),
    ("doc_lengths", {"dst": "doc_lengths"}),
    ("term_df", {"dst": "term_df", "postings": "token_postings"}),
    ("minhash", {"dst": "minhash_sigs"}),
)
MAX_WRITES = 5             # one per round


class CorpusIngestSearch(Workload):
    """Writes beside reads on one store.  Each round is one write followed
    by `reads_per_write` reads: BM25 searches and near-duplicate probes in
    equal numbers, in seeded order.  The write ingests one batch (its
    views current when it returns) and then runs maintain_store, which
    compacts any delta log deeper than `max_deltas`; no log gets that deep
    within a run, so every read sees the delta logs the writes before it
    left."""

    scale = 1.0
    warm_scale = 0.02
    batch_frac = 0.04      # batch rows per seed-corpus document
    read_kinds = ("bm25", "match")
    reads_per_write = 8
    round_len = 1 + reads_per_write
    max_ops = round_len * MAX_WRITES
    max_deltas = 8         # maintain_store's default

    def setup(self):
        with self.phase("inputs"):
            docs = gen.fixture_tables(self.seed, self.scale, ("documents",))["documents"]
            n_reads = self.reads_per_write * MAX_WRITES
            self.store = CorpusStore(self, self.seed, os.path.join(self.tmp, "store"), docs,
                                     MAX_WRITES, int(self.batch_frac * docs.num_rows), n_reads)
            self.root = self.store.root
            g = gen.rng(self.seed, "corpus-reads")
            per_kind = self.reads_per_write // len(self.read_kinds)
            self.reads = [str(k) for _ in range(MAX_WRITES)
                          for k in g.permutation(self.read_kinds * per_kind)]
        # warm-up first, on a small store of its own from a seed-disjoint
        # stream, so the JVM's first-use costs fall on tiny data: one write
        # (merge-on-read delete, streamed upsert, view refresh) and then one
        # read of each kind, whose plans merge the delta logs the write
        # left.  Without it the first reads after the loop's write are the
        # slow ones and set the read median.
        with self.phase("warm_up"):
            docs = gen.fixture_tables(self.seed + 7919, self.warm_scale,
                                      ("documents",))["documents"]
            warm = CorpusStore(self, self.seed + 7919, os.path.join(self.tmp, "warm"), docs,
                               1, 20, len(self.read_kinds))
            warm.seed()
            warm.write(0)
            for k, kind in enumerate(self.read_kinds):
                warm.read(kind, k)
        with self.phase("seed_store"):
            self.store.seed()
        self.writes = self.reads_done = 0

    def _write(self):
        from dataintegration_ecomprovider_spark.plans import publish

        rows, size = self.store.write(self.writes)
        self.writes += 1
        # the ingest already refreshed every declared view
        report = publish.maintain_store(self.spark, self.root, max_deltas=self.max_deltas,
                                        refresh_views=())
        if report.get("errors"):
            raise RuntimeError(f"maintain_store: {report['errors']}")
        return rows, size

    def kind_of(self, i):
        return "write" if i % self.round_len == 0 else "read"

    def op(self, i):
        if self.kind_of(i) == "write":
            rows, size = self._write()
            self.feed_bytes += size
            return rows
        k = self.reads_done
        self.reads_done += 1
        return self.store.read(self.reads[k], k)

    def check(self):
        self.store.check(self.writes, self.problems, self.notes)


class CorpusStore:
    """One documents store with its declared views, plus the pre-generated
    batches, search terms and probes that drive it."""

    def __init__(self, wl: Workload, seed: int, root: str, docs: pa.Table, n_batches: int,
                 batch_rows: int, n_reads: int):
        self.wl, self.spark, self.root = wl, wl.spark, root
        self.docs0 = docs
        g = gen.rng(seed, "corpus")
        live = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        next_id = max(live) + 1
        self.staged = os.path.join(root + "_staged")
        self.incoming = os.path.join(root + "_incoming")
        self.ckpt = os.path.join(root + "_ckpt")
        os.makedirs(self.staged)
        os.makedirs(self.incoming)
        self.batches, self.states = [], []
        # the import feeds' mix: 10% inserts, 5% deletes, the rest edits
        n_insert, n_delete = max(1, batch_rows // 10), max(1, batch_rows // 20)
        for b in range(n_batches):
            batch = gen.doc_batch(g, np.array(sorted(live)), next_id,
                                  n_edit=batch_rows - n_insert - n_delete,
                                  n_insert=n_insert, n_delete=n_delete)
            next_id = batch["next_id"]
            path = os.path.join(self.staged, f"batch_{b:03d}.parquet")
            pq.write_table(batch["upserts"], path)
            for d in batch["deletes"].tolist():
                live.pop(d)
            live.update(zip(batch["upserts"]["doc_id"].to_pylist(),
                            batch["upserts"]["text"].to_pylist()))
            self.batches.append((path, batch["deletes"].tolist(),
                                 batch["upserts"].num_rows + len(batch["deletes"])))
            self.states.append(dict(live))
        # read k uses terms[k] or probes[k]
        self.terms = [gen.search_terms(g) for _ in range(n_reads)]
        texts0 = docs["text"].to_pylist()
        self.probes = [gen.probe_docs(g, texts0, 16, 10_000_000 + 100 * k)
                       for k in range(n_reads)]

    def seed(self):
        from dataintegration_ecomprovider_spark.plans import materialize, publish

        df = self.spark.createDataFrame(self.docs0.to_pandas(), DOC_SCHEMA)
        publish.publish_tables(self.spark, {"documents": df}, self.root,
                               table_keys={"documents": ["doc_id"]})
        for kind, spec in VIEWS:
            materialize.declare_view(self.root, kind, **spec)
        report = materialize.refresh_declared_views(self.spark, self.root)
        if report["errors"]:
            raise RuntimeError(f"view seed failed: {report['errors']}")

    def write(self, b: int) -> tuple[int, int]:
        """Ingest batch `b`; returns (rows, input bytes)."""
        from pyspark.sql.types import _parse_datatype_string

        from dataintegration_ecomprovider_spark.plans import publish
        from dataintegration_ecomprovider_spark.streaming.incremental import (
            file_stream, stream_into_store,
        )

        path, deletes, rows = self.batches[b]
        size = os.path.getsize(path) + 8 * len(deletes)
        spark = self.spark
        if deletes:
            publish.merge_into_mor(
                spark, self.root, "documents", spark.createDataFrame([], DOC_SCHEMA),
                keys=["doc_id"],
                deletes=spark.createDataFrame([(d,) for d in deletes], "doc_id bigint"),
            )
        os.rename(path, os.path.join(self.incoming, os.path.basename(path)))
        with self.wl.span("streaming.stream_into_store"):
            q = stream_into_store(
                file_stream(spark, self.incoming, _parse_datatype_string(DOC_SCHEMA)),
                self.root, "documents", ["doc_id"], self.ckpt,
                mor=True, refresh_views=True, strict_views=True,
            )
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"ingest batch {b} failed: {q.exception()}")
        return rows, size

    def read(self, kind: str, k: int) -> int:
        from dataintegration_ecomprovider_spark.llm import dedup, incremental
        from dataintegration_ecomprovider_spark.plans import publish

        spark = self.spark
        if kind == "bm25":
            self.last_terms = self.terms[k]
            return len(self.bm25(self.last_terms))
        probe = spark.createDataFrame(self.probes[k].to_pandas(), "doc_id bigint, text string")
        df = incremental.match_against_index(
            dedup.minhash_signatures(probe, "doc_id", "text"),
            publish.read_table(spark, self.root, "minhash_sigs"),
            publish.read_table(spark, self.root, "minhash_bands"),
        )
        with self.wl.span("llm.incremental.match_against_index.exec"):
            return len(df.collect())

    def bm25(self, terms: list[str]) -> list[tuple]:
        from dataintegration_ecomprovider_spark.llm import search
        from dataintegration_ecomprovider_spark.plans import publish

        snap = publish.snapshot(self.spark, self.root)
        df = search.bm25_topk(snap.table("token_postings"), snap.table("doc_lengths"),
                              snap.table("term_df"), terms, k=10)
        with self.wl.span("llm.search.bm25_topk.exec"):
            return [tuple(r) for r in df.collect()]

    def check(self, writes: int, problems: list[str], notes: list[str]) -> None:
        from pyspark.sql import functions as F

        from dataintegration_ecomprovider_spark.llm import dedup, search
        from dataintegration_ecomprovider_spark.plans import publish

        spark = self.spark
        live = self.states[writes - 1] if writes else dict(
            zip(self.docs0["doc_id"].to_pylist(), self.docs0["text"].to_pylist()))
        read = lambda t, *cols: publish.read_table(spark, self.root, t).select(*cols).toArrow()  # noqa: E731
        notes.append(compare(
            read("documents", "doc_id", "text"),
            pa.table({"doc_id": pa.array(list(live), pa.int64()), "text": list(live.values())}),
            "documents", problems))
        fresh = spark.createDataFrame(sorted(live.items()), "doc_id bigint, text string").cache()
        post = search.token_postings(fresh).cache()
        lens = search.doc_lengths(fresh)
        tdf = post.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
        sigs = dedup.minhash_signatures(fresh, "doc_id", "text").cache()
        for table, cols, want in (
                ("token_postings", ("token", "doc_id", "tf"), post),
                ("doc_lengths", ("doc_id", "dl"), lens),
                ("term_df", ("token", "cnt"), tdf),
                ("minhash_sigs", ("id", "sig"), sigs),
                ("minhash_bands", ("id", "band", "bucket"), dedup.band_buckets(sigs))):
            notes.append(compare(read(table, *cols), want.select(*cols).toArrow(), table,
                                 problems))
        # the last search's terms, rerun on the final store
        terms = self.last_terms
        got = self.bm25(terms)
        want = [tuple(r) for r in search.bm25_topk(post, lens, tdf, terms, k=10).collect()]
        if got != want:
            problems.append(f"bm25_topk{terms}: {got[:3]} vs {want[:3]}")
        notes.append(f"{len(live)} live documents; bm25_topk{terms} top-{len(got)} matches")


WORKLOADS = {
    "ecom_import": EcomImport,
    "ecom_export": EcomExport,
    "corpus_ingest_search": CorpusIngestSearch,
}

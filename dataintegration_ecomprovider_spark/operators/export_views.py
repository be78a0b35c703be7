"""Export view builders — the reference's read surface, Spark-first.

The reference generates one big SELECT per source table: pruned projection
(GetColumns, src/EcomSourceReader.cs:326-516), a per-table join graph
(GetFromTables, :228-324), correlated string-aggregation subqueries for the
virtual list columns (:336-446), TOP(1) primary-group lookup (:401-404), and
optional language/shop filters (:165-183).  Here each table's export view is
a declarative DataFrame tree; Catalyst does pruning/pushdown, and every
correlated subquery becomes a pre-aggregate + join (see string_agg.py).

Fixture role mapping (FIXTURES.md §"Mapping onto driver testdata"):
part = EcomProducts, supplier = EcomManufacturers, lineitem = the
product↔supplier relation detail, nation/region = the group hierarchy.

Scale notes: the membership aggregates shuffle on the parent key once each
and are joined back with the parent — at 100 TB both sides are shuffled on
p_partkey, so AQE can plan a co-partitioned sort-merge join; the dimension
joins (supplier, nation, region) are explicit broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.catalog import Catalog
from dataintegration_ecomprovider_spark.operators.string_agg import collect_ordered


def products_export_view(cat: Catalog) -> DataFrame:
    """The flagship: EcomProducts export SELECT (src/EcomSourceReader.cs:255-282,
    :387-448) over the fixture schema.

    Per part:
      - manufacturer left join + isnull(ManufacturerName,'') (J4/P6,
        src/EcomSourceReader.cs:425): the lowest-keyed supplier that shipped it;
      - Groups / GroupSorting comma-quoted parallel lists (A1,
        src/EcomSourceReader.cs:393-400): distinct suppliers that shipped it,
        ordered by supplier name;
      - PrimaryGroup (A8, src/EcomSourceReader.cs:401-404): top-1 supplier by
        shipped quantity (desc), suppkey tie-break.

    All three come from ONE aggregation pass (one shuffle on l_partkey);
    the lists sort after collection, so they do not depend on shuffle
    order.
    """
    part = cat.table("part")
    supplier = cat.table("supplier")
    lineitem = cat.table("lineitem")

    # product -> supplier relation (distinct pairs + shipped quantity)
    rel = (
        lineitem.groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    rel = rel.join(F.broadcast(supplier), rel.l_suppkey == supplier.s_suppkey, "inner")

    # ALL per-part derived columns in ONE aggregation pass (one shuffle on
    # l_partkey instead of three agg/window pipelines over recomputed rel):
    #  - groups/group_sorting: sorted struct collect, parallel lists derive
    #    from the same array;
    #  - primary_group (A8 top-1 by qty desc, suppkey asc) and manufacturer
    #    (lowest suppkey) as struct-ordered min aggregates — a max-by/min-by
    #    that needs no second window pass.
    prim_struct = F.struct((-F.col("qty")).alias("nq"),
                           F.col("l_suppkey").alias("k"),
                           F.col("s_name").alias("n"))
    mfr_struct = F.struct(F.col("l_suppkey").alias("k"),
                          F.col("s_name").alias("n"))
    agged = rel.groupBy("l_partkey").agg(
        collect_ordered(
            F.struct(F.col("s_name").alias("n"),
                     F.col("s_suppkey").cast("string").alias("k")),
            [F.col("s_name")],
        ).alias("__pairs"),
        F.min(prim_struct).alias("__prim"),
        F.min(mfr_struct).alias("__mfr"),
    )
    derived = (
        agged
        .select(
            F.col("l_partkey").alias("g_partkey"),
            F.concat_ws(
                ",", F.transform("__pairs", lambda p: F.concat(F.lit('"'), p["n"], F.lit('"')))
            ).alias("groups"),
            F.concat_ws(",", F.transform("__pairs", lambda p: p["k"])).alias("group_sorting"),
            F.col("__prim.n").alias("primary_group"),
            F.col("__mfr.n").alias("__mfr_name"),
        )
    )

    out = (
        part.join(derived, part.p_partkey == derived.g_partkey, "left")
        .select(
            F.col("p_partkey").alias("product_id"),
            F.col("p_name").alias("product_name"),
            F.col("p_brand").alias("product_brand"),
            F.col("p_type").alias("product_type"),
            F.col("p_size").cast("int").alias("product_size"),
            F.round(F.col("p_retailprice"), 2).alias("product_price"),
            F.coalesce(F.col("__mfr_name"), F.lit("")).alias("manufacturer_name"),
            F.coalesce(F.col("groups"), F.lit("")).alias("groups"),
            F.coalesce(F.col("group_sorting"), F.lit("")).alias("group_sorting"),
            F.coalesce(F.col("primary_group"), F.lit("")).alias("primary_group"),
        )
    )
    return out


def products_export_full_view(cat: Catalog) -> DataFrame:
    """The complete EcomProducts export SELECT: the flagship columns plus
    the remaining virtual list columns (src/EcomSourceReader.cs:387-448) —
    `variant_options` (A2: DISTINCT dot-joined composite keys, the
    reference's VO1.VO2 encoding at :434-435) and `related_products`
    (A1 over the J6 self-join: top-3 co-occurring parts by pair count).

    One extra relation feeds both: lineitem joined to orders (for the
    option analog) and to itself (for co-occurrence).  Each list column is
    a pre-aggregate joined back on p_partkey — three shuffles on the part
    key total, independent of how many list columns ride along."""
    base = products_export_view(cat)
    li = cat.table("lineitem").select("l_orderkey", "l_partkey", "l_linenumber")
    orders = cat.table("orders").select("o_orderkey", "o_orderpriority")

    # variant_options: distinct order priorities of orders shipping the part,
    # dot-joined in sorted order (composite-key encoding)
    vo = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_partkey")
        .agg(F.array_sort(F.collect_set("o_orderpriority")).alias("__vo"))
        .select(
            F.col("l_partkey").alias("vo_partkey"),
            F.concat_ws(".", "__vo").alias("variant_options"),
        )
    )

    # related_products: top-3 co-occurring partkeys by pair count (count
    # desc, partkey asc), comma-quoted — directed pairs via groupBy +
    # in-array expansion (one pass over lineitem, no self-join SMJ; same
    # rows as the aliased self-join on l_orderkey with partkey inequality)
    per_order = li.groupBy("l_orderkey").agg(
        F.collect_list("l_partkey").alias("pks")
    )
    pks = F.col("pks")
    directed = F.flatten(
        F.transform(
            pks,
            lambda x: F.transform(
                F.filter(pks, lambda y: y != x),
                lambda y: F.struct(x.alias("rp_partkey"), y.alias("other")),
            ),
        )
    )
    pairs = (
        per_order.select(F.explode(directed).alias("p"))
        .groupBy(F.col("p.rp_partkey").alias("rp_partkey"), F.col("p.other").alias("other"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top_related = (
        pairs.groupBy("rp_partkey")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct((-F.col("cnt")).alias("nc"), F.col("other").alias("o")))
                ),
                1, 3,
            ).alias("__top")
        )
        .select(
            "rp_partkey",
            F.concat_ws(
                ",",
                F.transform("__top", lambda s: F.concat(F.lit('"'), s["o"].cast("string"), F.lit('"'))),
            ).alias("related_products"),
        )
    )

    return (
        base.join(vo, base.product_id == vo.vo_partkey, "left")
        .join(top_related, base.product_id == top_related.rp_partkey, "left")
        .select(
            *[c for c in base.columns],
            F.coalesce("variant_options", F.lit("")).alias("variant_options"),
            F.coalesce("related_products", F.lit("")).alias("related_products"),
        )
    )


def products_export_full_oracle() -> str:
    base = products_export_oracle().strip().rstrip(";")
    return f"""
WITH base AS ({base}),
vo AS (
  SELECT l.l_partkey,
         string_agg(DISTINCT o.o_orderpriority, '.' ORDER BY o.o_orderpriority) AS variant_options
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY l.l_partkey
),
pairs AS (
  SELECT a.l_partkey AS rp, b.l_partkey AS other, COUNT(*) AS cnt
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
),
topr AS (
  SELECT rp,
         string_agg('"' || CAST(other AS VARCHAR) || '"', ',' ORDER BY cnt DESC, other ASC) AS related_products
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY rp ORDER BY cnt DESC, other ASC) AS rn
        FROM pairs)
  WHERE rn <= 3 GROUP BY rp
)
SELECT base.*,
       COALESCE(vo.variant_options, '') AS variant_options,
       COALESCE(topr.related_products, '') AS related_products
FROM base
LEFT JOIN vo ON base.product_id = vo.l_partkey
LEFT JOIN topr ON base.product_id = topr.rp
"""


def groups_export_view(cat: Catalog) -> DataFrame:
    """The EcomGroups export SELECT (src/EcomSourceReader.cs:329-352):
    language join (J1) + the Shops/ShopSorting and ParentGroups parallel
    list columns (A1 ×2) — over the fixture role mapping nation=EcomGroups,
    region=parent hierarchy, customer segments=shop memberships.

    Per nation: `shops` = sorted distinct customer segments (comma-quoted),
    `shop_sorting` = the per-segment min custkey (parallel array),
    `parent_groups` = the region as a one-element quoted list."""
    nation, region, customer = cat.table("nation"), cat.table("region"), cat.table("customer")

    seg = customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.min("c_custkey").alias("seg_sort")
    )
    pairs = collect_ordered(
        F.struct(F.col("c_mktsegment").alias("m"), F.col("seg_sort").cast("string").alias("s")),
        [F.col("c_mktsegment")],
    )
    shops = seg.groupBy("c_nationkey").agg(pairs.alias("__pairs")).select(
        F.col("c_nationkey").alias("sh_key"),
        F.concat_ws(
            ",", F.transform("__pairs", lambda p: F.concat(F.lit('"'), p["m"], F.lit('"')))
        ).alias("shops"),
        F.concat_ws(",", F.transform("__pairs", lambda p: p["s"])).alias("shop_sorting"),
    )
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner")
        .join(shops, nation.n_nationkey == F.col("sh_key"), "left")
        .select(
            F.col("n_nationkey").alias("group_id"),
            F.col("n_name").alias("group_name"),
            F.coalesce("shops", F.lit("")).alias("shops"),
            F.coalesce("shop_sorting", F.lit("")).alias("shop_sorting"),
            F.concat(F.lit('"'), F.col("r_name"), F.lit('"')).alias("parent_groups"),
        )
    )


def groups_export_oracle() -> str:
    return """
WITH seg AS (
  SELECT c_nationkey, c_mktsegment, MIN(c_custkey) AS seg_sort
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
shops AS (
  SELECT c_nationkey,
         string_agg('"' || c_mktsegment || '"', ',' ORDER BY c_mktsegment) AS shops,
         string_agg(CAST(seg_sort AS VARCHAR), ',' ORDER BY c_mktsegment) AS shop_sorting
  FROM seg GROUP BY c_nationkey
)
SELECT n.n_nationkey AS group_id, n.n_name AS group_name,
       COALESCE(s.shops, '') AS shops,
       COALESCE(s.shop_sorting, '') AS shop_sorting,
       '"' || r.r_name || '"' AS parent_groups
FROM nation n
JOIN region r ON n.n_regionkey = r.r_regionkey
LEFT JOIN shops s ON n.n_nationkey = s.c_nationkey
"""


def variant_options_export_view(cat: Catalog, language: str | None = None) -> DataFrame:
    """The EcomVariantsOptions export SELECT (J3, src/EcomSourceReader.cs:
    247-254): options inner-join languages, LEFT join variant groups on TWO
    keys, optional language filter (P3), aliased output.  Fixture roles:
    customer=options, nation=languages, region=variant groups; the second
    left-join key is a parity condition standing in for the group-language
    pair."""
    customer, nation, region = cat.table("customer"), cat.table("nation"), cat.table("region")
    df = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "inner"
    )
    if language is not None:
        df = df.filter(F.col("n_name") == language)
    vg = region.select("r_regionkey", "r_name")
    df = df.join(
        F.broadcast(vg),
        (nation.n_regionkey == vg.r_regionkey) & (customer.c_custkey % 2 == 0),
        "left",
    )
    return df.select(
        F.col("c_custkey").alias("option_id"),
        F.col("c_name").alias("option_name"),
        F.col("n_name").alias("option_language"),
        F.coalesce("r_name", F.lit("")).alias("variant_group_name"),
    )


def variant_options_export_oracle(language: str | None = None) -> str:
    lang_cond = f"AND n.n_name = '{language}'" if language else ""
    return f"""
SELECT c.c_custkey AS option_id, c.c_name AS option_name,
       n.n_name AS option_language,
       COALESCE(r.r_name, '') AS variant_group_name
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey {lang_cond}
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey AND c.c_custkey % 2 = 0
"""


def stock_units_export_view(cat: Catalog) -> DataFrame:
    """The EcomStockUnit export SELECT (J9, src/EcomSourceReader.cs:301-310):
    stock rows LEFT join products on a multi-condition key, LEFT join stock
    locations, null-coalesced names.  Fixture roles: lineitem=stock units,
    part=products (joined only when the size class matches — the extra key
    condition), supplier=stock locations."""
    li, part, supplier = cat.table("lineitem"), cat.table("part"), cat.table("supplier")
    p = part.select("p_partkey", "p_name", "p_size")
    s = supplier.select("s_suppkey", "s_name")
    return (
        li.join(F.broadcast(p), (li.l_partkey == p.p_partkey) & (p.p_size < 40), "left")
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey, "left")
        .select(
            F.col("l_orderkey").alias("stock_unit_id"),
            F.col("l_linenumber").alias("stock_unit_line"),
            F.coalesce("p_name", F.lit("")).alias("product_name"),
            F.coalesce("s_name", F.lit("")).alias("stock_location_name"),
            F.round("l_quantity", 2).alias("stock_quantity"),
        )
    )


def stock_units_export_oracle() -> str:
    return """
SELECT l.l_orderkey AS stock_unit_id, l.l_linenumber AS stock_unit_line,
       COALESCE(p.p_name, '') AS product_name,
       COALESCE(s.s_name, '') AS stock_location_name,
       ROUND(l.l_quantity, 2) AS stock_quantity
FROM lineitem l
LEFT JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size < 40
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
"""


def products_export_oracle() -> str:
    """DuckDB-equivalent SQL for products_export_view (same aliases)."""
    return """
WITH rel AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
  FROM lineitem GROUP BY l_partkey, l_suppkey
), rel_s AS (
  SELECT rel.*, s.s_name FROM rel JOIN supplier s ON rel.l_suppkey = s.s_suppkey
), groups AS (
  SELECT l_partkey,
         string_agg('"' || s_name || '"', ',' ORDER BY s_name) AS groups,
         string_agg(CAST(l_suppkey AS VARCHAR), ',' ORDER BY s_name) AS group_sorting
  FROM rel_s GROUP BY l_partkey
), primary_g AS (
  SELECT l_partkey, s_name AS primary_group
  FROM (SELECT l_partkey, s_name,
               ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY qty DESC, l_suppkey ASC) AS rn
        FROM rel_s) WHERE rn = 1
), mfr AS (
  SELECT l_partkey, s_name AS mfr_name
  FROM (SELECT l_partkey, s_name,
               ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY l_suppkey ASC) AS rn
        FROM rel_s) WHERE rn = 1
)
SELECT p.p_partkey AS product_id,
       p.p_name AS product_name,
       p.p_brand AS product_brand,
       p.p_type AS product_type,
       CAST(p.p_size AS INTEGER) AS product_size,
       ROUND(p.p_retailprice, 2) AS product_price,
       COALESCE(m.mfr_name, '') AS manufacturer_name,
       COALESCE(g.groups, '') AS groups,
       COALESCE(g.group_sorting, '') AS group_sorting,
       COALESCE(pg.primary_group, '') AS primary_group
FROM part p
LEFT JOIN mfr m ON p.p_partkey = m.l_partkey
LEFT JOIN groups g ON p.p_partkey = g.l_partkey
LEFT JOIN primary_g pg ON p.p_partkey = pg.l_partkey
"""

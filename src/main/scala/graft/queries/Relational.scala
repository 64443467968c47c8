package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{Par, Tables}

/** Block A — relational core (SURVEY.md §2.A).
  *
  * The reference's `main.py` exercises key-merges, isin filters,
  * concat, groupby-idxmax dedup and column arithmetic over
  * pandas frames (reference main.py:96-122, 251); this block carries
  * those capabilities (plus the aggregation/join/window machinery any
  * engine needs) as declarative Spark plans Catalyst can optimize.
  *
  * Oracle-parity rules used throughout (SURVEY.md §4/§5):
  *  - sums over double money columns go through exact DECIMAL casts
  *    (order-independent => identical at any parallelism, and equal
  *    to DuckDB's decimal sums), then cast back to double;
  *  - averages are computed as exact-sum / count, never avg();
  *  - timestamps are output as formatted date strings;
  *  - every query ends in a deterministic orderBy.
  */
object Relational {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Exact decimal sum of a 2-dp money column, surfaced as double. */
  private def dsum2(c: Column): Column = sum(dec2(c)).cast("double")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> q01,
    "q02_revenue_by_nation" -> q02,
    "q03_broadcast_part_agg" -> q03,
    "q04_topk_orders" -> q04,
    "q05_window_rank" -> q05,
    "q06_selective_filter" -> q06,
    "q07_distinct_segments" -> q07,
    "q08_semi_join" -> q08,
    "q09_anti_join" -> q09,
    "q10_rollup" -> q10,
    "q11_merge_attrs" -> q11,
    "q12_dedup_idxmax" -> q12,
    "q13_supplier_parts" -> q13,
    "q14_priority_tax" -> q14,
    "q15_pivot_segments" -> q15,
    "q16_cube" -> q16,
    "q17_salted_join" -> q17,
    "q111_profile" -> q111,
    "q118_table_checksum" -> q118,
    "q153_constraints" -> q153,
    "q155_ref_integrity" -> q155,
    "q156_publish_roundtrip" -> q156,
    "q161_compaction" -> q161,
    "q162_snapshots" -> q162,
    "q163_orc_roundtrip" -> q163,
    "q164_merge" -> q164,
    "q165_bucketed_join" -> q165,
    "q166_snapshot_diff" -> q166,
    "q167_idempotent_sink" -> q167,
    "q168_schema_evolution" -> q168,
    "q169_snapshot_prune" -> q169,
    "q170_lakehouse_e2e" -> q170,
    "q172_changefeed" -> q172,
    "q173_txn_publish" -> q173,
    "q174_bucket_evolution" -> q174,
    "q175_type_widening" -> q175,
    "q176_cdc_loop" -> q176,
    "q177_feed_widened" -> q177,
    "q178_delete_cdc" -> q178,
    "q179_rename" -> q179,
    "q180_prune_typed" -> q180,
    "q181_hash_bucket" -> q181,
    "q182_ndv" -> q182,
    "q183_zorder_table" -> q183,
    "q184_table_props" -> q184,
    "q185_join_planner" -> q185,
    "q186_maintain" -> q186,
    "q187_z_cdc" -> q187,
    "q188_dv_delete" -> q188,
    "q189_zmap" -> q189,
    "q190_named_catalog" -> q190,
    "q191_sql_merge" -> q191,
    "q192_sql_update" -> q192,
    "q193_sql_maintain" -> q193,
    "q194_sql_ctas" -> q194,
    "q195_sql_evolution" -> q195,
    "q126_set_ops" -> q126,
    "q131_profile_approx" -> q131
  )

  /** TPC-H Q1-style pricing summary: scan + filter + hash aggregate.
    * The shipdate filter is pushed to the parquet scan; the aggregate
    * is a two-phase (partial/final) hash agg — no extra shuffle
    * beyond the one on (returnflag, linestatus).
    */
  def q01(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") < lit("2001-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum2(col("l_quantity")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Revenue by nation: fact-fact join (lineitem ⋈ orders) shuffles on
    * orderkey; customer and nation are dimension-sized and broadcast.
    * At 100 TB the li⋈o join is the only large shuffle and co-locates
    * on the natural key.
    */
  def q02(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("2001-01-01").cast("timestamp"))
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
          .cast("double").as("revenue"),
        countDistinct(col("c_custkey")).as("n_customers"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("n_name"))
  }

  /** Broadcast join with the part dimension + per-brand aggregate. */
  def q03(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        dsum2(col("l_quantity")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("p_brand"))
  }

  /** Deterministic top-k: global sort with a tie-break key + limit.
    * At scale this is a TakeOrderedAndProject (no full sort). */
  def q04(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Window rank: top-3 orders per customer by totalprice. */
  def q05(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
      .orderBy(col("o_custkey"), col("rnk"))
  }

  /** Highly selective conjunctive filter -> single-row aggregate;
    * all three predicates push to the parquet scan. */
  def q06(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(
        col("l_quantity") >= 5 && col("l_quantity") <= 15 &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("2001-01-01").cast("timestamp"))
      .agg(
        sum(dec2(col("l_extendedprice")) * dec2(col("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Distinct values of a low-cardinality column. */
  def q07(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_mktsegment")).distinct()
      .orderBy(col("c_mktsegment"))

  /** Left-semi join (EXISTS): customers having a big order, counted by
    * segment. Semi-join avoids materializing the orders payload. */
  def q08(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 150000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** Left-anti join (NOT EXISTS): customers with no 300k+ order. */
  def q09(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 300000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_nationkey"))
  }

  /** Rollup over (nation, segment) — subtotal rows surfaced with the
    * 'ALL' sentinel so the oracle compare is null-free. */
  def q10(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"), col("c_mktsegment"))
      .agg(dsum2(col("c_acctbal")).as("sum_acctbal"), count(lit(1)).as("n_customers"))
      .select(
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        col("sum_acctbal"), col("n_customers"))
      .orderBy(col("nation"), col("segment"))
  }

  /** The reference's make_gdf/init_geojson pattern (main.py:96-122):
    * merge an attribute table onto an entity table by key, filter by a
    * code list (isin), concat two frames. Nation plays the geometry
    * frame, per-nation customer stats play the population CSV.
    */
  def q11(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val c = Tables.customer(spark, dir)
    val attrs = c.groupBy(col("c_nationkey"))
      .agg(dsum2(col("c_acctbal")).as("total_acctbal"), count(lit(1)).as("population"))
    val merged = n
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(attrs, col("n_nationkey") === col("c_nationkey"), "left")
      .select(col("n_nationkey"), col("n_name"), col("r_name"),
        coalesce(col("total_acctbal"), lit(0.0)).as("total_acctbal"),
        coalesce(col("population"), lit(0L)).as("population"))
    val europe = merged.filter(col("r_name") === "EUROPE")
    val asia = merged.filter(col("r_name") === "ASIA")
    europe.unionAll(asia).orderBy(col("n_nationkey"))
  }

  /** groupby(key).idxmax(metric) dedup (reference main.py:251 keeps
    * the max-area geometry per ISO code): one row per orderkey — the
    * line with max extendedprice, ties broken by linenumber. A window
    * row_number beats a self-join-on-max at scale (single shuffle).
    */
  def q12(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
    li.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"))
  }

  /** Supplier/part depth: li ⋈ supplier ⋈ nation ⋈ part, aggregated
    * by nation x part type — covers the supplier dimension. */
  def q13(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val p = Tables.part(spark, dir).filter(col("p_size") <= 25)
    li.join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("n_name"), col("p_type"))
      .agg(dsum2(col("l_quantity")).as("sum_qty"),
        dsum2(col("s_acctbal")).as("sum_supp_acctbal"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("n_name"), col("p_type"))
  }

  /** Order-priority x tax-bucket matrix over the join of orders and
    * lineitem — covers o_orderpriority and l_tax. */
  def q14(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("tax_bucket",
        when(col("l_tax") <= 0.02, "low")
          .when(col("l_tax") <= 0.05, "mid").otherwise("high"))
      .groupBy(col("o_orderpriority"), col("tax_bucket"))
      .agg(sum(dec2(col("l_extendedprice")) * dec2(col("l_tax"))).cast("double").as("tax_amount"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"), col("tax_bucket"))
  }

  /** Pivot (long→wide reshaping): order counts by priority ACROSS
    * market segments. The values list is EXPLICIT — without it Spark
    * runs a whole extra distinct job just to learn the column set,
    * and the output schema becomes data-dependent (both wrong at
    * 100 TB); with it the pivot is one two-phase hash aggregate.
    * Absent combinations are 0, not null (coalesce — the contract a
    * report consumer wants). */
  def q15(spark: SparkSession, dir: String): DataFrame = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val wide = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .pivot("c_mktsegment", segs)
      .agg(count(lit(1)))
    wide.select(col("o_orderpriority") +:
        segs.map(s => coalesce(col(s), lit(0L)).as(s.toLowerCase)): _*)
      .orderBy(col("o_orderpriority"))
  }

  /** CUBE aggregation (all 2^k grouping combinations): the full OLAP
    * sibling of q10's rollup. `grouping()` flags disambiguate a
    * subtotal row from a genuine NULL group value — gated as exact
    * int columns so the oracle can't conflate the two. Scale shape:
    * cube is ONE Expand (4 rows per input here) feeding one
    * two-phase hash agg — partials collapse map-side, the shuffle
    * carries only (status, priority, gid) groups, never raw rows. */
  def q16(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping(col("o_orderstatus")).as("g_status"),
        grouping(col("o_orderpriority")).as("g_priority"),
        dsum2(col("o_totalprice")).as("sum_price"),
        count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("g_status").cast("int").as("g_status"),
        col("g_priority").cast("int").as("g_priority"),
        col("sum_price"), col("n_orders"))
      .orderBy(col("status"), col("priority"))
  }

  /** Skew-salted join gated against the PLAIN join oracle: lineitem
    * (big, skewed side salted on a deterministic per-row hash) joins
    * orders (small side exploded x16 salts), revenue aggregated per
    * priority. Identical output proves salting neither drops nor
    * duplicates rows — the guarantee that lets [[graft.operators.Scale.saltedJoin]]
    * replace a hot-key sort-merge join at 100 TB, where one hub key
    * would otherwise pin a single reducer. The aggregate's decimal
    * sums are order-independent, so the salt-scrambled row order
    * can't show through. */
  def q17(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o_orderkey"),
        col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    graft.operators.Scale.saltedJoin(li, o, "o_orderkey", 16)
      .groupBy(col("o_orderpriority"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
  }

  /** Set operators (INTERSECT / EXCEPT, both directions) on two
    * genuinely-overlapping-but-distinct key sets: nations of rich
    * BUILDING customers vs nations of negative-balance suppliers.
    * Spark plans EXCEPT/INTERSECT as left-anti/left-semi joins over
    * distincts — the same co-partitioned shapes as q08/q09, gated
    * through the dedicated API rather than composed by hand. */
  def q126(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 9000)
      .select(col("c_nationkey").as("nk")).distinct()
    val s = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0)
      .select(col("s_nationkey").as("nk")).distinct()
    c.intersect(s).withColumn("op", lit("both"))
      .unionAll(c.except(s).withColumn("op", lit("customers_only")))
      .unionAll(s.except(c).withColumn("op", lit("suppliers_only")))
      .select(col("op"), col("nk"))
      .orderBy(col("op"), col("nk"))
  }

  /** Portable per-group table fingerprint (the cross-engine data
    * integrity check a migration or replication pipeline runs before
    * trusting a copy — the same discipline this repo's own driver
    * gate uses, packaged as an operator): each lineitem row folds to
    * a 60-bit md5 hash of its canonical integer surface (keys,
    * linenumber, epoch-us shipdate, money scaled to exact cents —
    * no float formatting anywhere), then per returnflag group three
    * order-independent digests ride ONE aggregate: row count, XOR of
    * the folds (overflow-free at any scale), and the sum of folds
    * mod 1e12 (int64-exact to ~9.2M rows per group; past that a
    * second mod, the q59 bound). A dropped, duplicated, or altered
    * row flips at least the xor or the sum with probability
    * 1 − 2^−60. Map-side partials collapse — the shuffle carries
    * 3 numbers per (group, partition). */
  def q118(spark: SparkSession, dir: String): DataFrame = {
    val canon = concat_ws("|",
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
      unix_micros(col("l_shipdate").cast("timestamp")), // NTZ → session-UTC instant, == DuckDB epoch_us
      (dec2(col("l_quantity")) * 100).cast("long"),
      (dec2(col("l_extendedprice")) * 100).cast("long"))
    Tables.lineitem(spark, dir)
      .withColumn("h", conv(substring(md5(canon), 1, 15), 16, 10).cast("long"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_sig"),
        sum(col("h") % 1000000000000L).as("sum_sig"))
      .orderBy(col("l_returnflag"))
  }

  /** Deequ-style constraint suite over orders
    * ([[graft.operators.Constraints]] — the publish gate of the
    * ops family): NotNull / Unique / InRange / OneOf constraints,
    * every one an exact integer violation count, ALL evaluated in
    * ONE aggregate over ONE scan (the single-pass discipline — a
    * 100 TB batch pays one read however many constraints the suite
    * carries). The fixture mixes passing and failing constraints so
    * both verdicts sit inside the hash (Unique(o_custkey) and the
    * strict priority set fail; the key/status constraints pass). */
  def q153(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Constraints
    import graft.operators.Constraints._
    Constraints.check(Tables.orders(spark, dir), Seq(
        NotNull("o_custkey"),
        Unique("o_orderkey"),
        Unique("o_custkey"),
        InRange("o_totalprice", 0.0, 100000.0),
        OneOf("o_orderstatus", Seq("F", "O", "P")),
        OneOf("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM"))))
      .orderBy(col("constraint"))
  }

  /** Referential-integrity constraints (q153's cross-table sibling —
    * [[graft.operators.Constraints.checkRef]]): orders.o_custkey ⊆
    * customer.c_custkey holds by TPC-H construction (passes);
    * customer.c_custkey ⊆ orders.o_custkey fails — customers without
    * orders exist — so both verdicts and a real violation count sit
    * inside the hash. Each check is one left join against the
    * DISTINCT reference key set folded into a single report row. */
  def q155(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Constraints
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    Constraints.checkRef(o, "o_custkey", c, "c_custkey")
      .unionAll(Constraints.checkRef(c, "c_custkey", o, "o_custkey"))
      .orderBy(col("constraint"))
  }

  /** The key-range predicates q156 prunes on, shared with its oracle:
    * (label, lo, hi) half-open ranges over o_orderkey. p2 covers every
    * bucket at any SF, p3 none, p1/p4 a prefix slice and a point. */
  private val publishPreds = Seq(
    ("p1_low", 256L, 1280L),
    ("p2_all", 0L, 1L << 40),
    ("p3_none", 1L << 30, (1L << 30) + 100L),
    ("p4_point", 777L, 778L))

  /** The canonical 60-bit row fold of an orders row (the q118
    * discipline): integer key surfaces, epoch-us date, exact cents —
    * reusable on the source, the read-back AND any pruned scan
    * (unresolved columns bind wherever it is applied). */
  private def ordersRowHash: Column = {
    val canon = concat_ws("|",
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      unix_micros(col("o_orderdate").cast("timestamp")),
      (dec2(col("o_totalprice")) * 100).cast("long"))
    conv(substring(md5(canon), 1, 15), 16, 10).cast("long")
  }

  /** The gated PUBLISH round trip (the r7 verdict's task #1 — the
    * "save the output" step every real pipeline runs last; reference
    * main.py computes frames and never writes one): orders bucketed
    * by `o_orderkey div 8192`, published as a key-sorted,
    * bucket-partitioned parquet dataset behind a PASSING constraint
    * suite ([[graft.operators.Layout.publishChecked]] — the q153
    * gate moved to where it matters, before the data ships), then
    * read back THREE ways, all inside one hash:
    *
    *  - 'checksum' rows: the q118 60-bit fold per bucket computed on
    *    the READ-BACK files; the oracle computes it on the SOURCE
    *    table directly — equality proves the write→read round trip
    *    dropped, duplicated and altered nothing;
    *  - 'survival' rows: per key-range predicate, how many buckets
    *    survive REAL parquet footer min/max skipping
    *    ([[graft.operators.Layout.rowGroupStats]]) plus the row count
    *    behind the survivors; the oracle restates survival
    *    closed-form from per-bucket min/max (a bucket is a contiguous
    *    key range by construction) — so the gate checks the written
    *    footers actually carry the statistics pruning needs;
    *  - 'pruned' rows: count + exact cents sum + xor row-fold over a
    *    scan that reads ONLY the surviving files
    *    ([[graft.operators.Layout.prunedScan]]); the oracle runs the
    *    plain WHERE on the source — equality proves pruned scan ==
    *    full scan, row for row (the xor fold makes "same rows", not
    *    just "same count").
    *
    * Scale: the publish is one hash repartition + local sort (each
    * bucket lands in exactly one file); footer stats are per-file
    * metadata read driver-side (bounded by file count — exactly a
    * manifest read); the four pruned aggregates are bounded scalar
    * collects. */
  def q156(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Constraints, Layout}
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_publish_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    Layout.publishChecked(src, out, "bucket", Seq("o_orderkey"),
      Seq(Constraints.NotNull("o_orderkey"), Constraints.Unique("o_orderkey"),
        Constraints.NotNull("bucket"),
        Constraints.InRange("o_totalprice", 0.0, 1e6)))
    val back = spark.read.parquet(out)
      .withColumn("bucket", col("bucket").cast("long"))
    val checksum = back.withColumn("h", ordersRowHash)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("m1"), expr("bit_xor(h)").as("m2"),
        sum(col("h") % 1000000000000L).as("m3"))
      .select(lit("checksum").as("section"),
        lpad(col("bucket").cast("string"), 6, "0").as("label"),
        col("m1"), col("m2"), col("m3"))
    val stats = Layout.rowGroupStats(spark, out, "o_orderkey")
    val perBucket = stats
      .groupBy(_.bucket.getOrElse(sys.error(
        "publish wrote a data file outside a bucket directory")))
      .map { case (b, ss) =>
        (b, ss.map(_.min).min, ss.map(_.max).max, ss.map(_.rowCount).sum)
      }.toSeq
    val survival = publishPreds.map { case (lbl, lo, hi) =>
      val surv = perBucket.filter { case (_, mn, mx, _) => mx >= lo && mn < hi }
      ("survival", lbl, perBucket.size.toLong, surv.size.toLong,
        surv.map(_._4).sum)
    }
    val pruned = publishPreds.map { case (lbl, lo, hi) =>
      val r = Layout.prunedScan(spark, out, "o_orderkey", lo, hi, Some(stats))
        .withColumn("h", ordersRowHash)
        .agg(count(lit(1)).as("m1"),
          coalesce(sum((dec2(col("o_totalprice")) * 100).cast("long")), lit(0L)).as("m2"),
          coalesce(expr("bit_xor(h)"), lit(0L)).as("m3"))
        .collect()(0)
      ("pruned", lbl, r.getLong(0), r.getLong(1), r.getLong(2))
    }
    checksum.unionAll(
        (survival ++ pruned).toDF("section", "label", "m1", "m2", "m3"))
      .orderBy(col("section"), col("label"))
  }

  /** Compaction under the gate (the lakehouse OPTIMIZE step — q156
    * proves one publish; real tables take INCREMENTAL loads and
    * fragment): orders split into three loads by key residue
    * ([[graft.operators.Layout.publish]] + two
    * [[graft.operators.Layout.append]]s — every bucket accumulates
    * one file per load that touches it), then
    * [[graft.operators.Layout.compact]] merges every fragmented
    * bucket back to ONE key-sorted file. Four sections in one hash:
    *
    *  - 'compact' rows: per bucket, file count BEFORE (measured off
    *    real footers — the oracle restates it as the bucket's count
    *    of distinct key residues, i.e. which loads touched it),
    *    file count AFTER (measured off the post-swap listing — the
    *    oracle states 1), and the row count;
    *  - 'checksum' rows: the q118 fold per bucket on the COMPACTED
    *    read-back vs the oracle's source-side restatement —
    *    compaction dropped, duplicated and altered nothing;
    *  - 'survival' rows: footer min/max pruning still works on the
    *    compacted files, with m1 = TOTAL data files proving files ==
    *    buckets post-compaction;
    *  - 'pruned' rows: pruned scan == plain WHERE on the compacted
    *    dataset, xor row-fold included.
    *
    * Scale: compact reads and rewrites ONLY fragmented buckets —
    * maintenance proportional to churn, never to table size. */
  def q161(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_compact_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    Layout.publish(src.filter(col("o_orderkey") % 3 === 0), out,
      "bucket", Seq("o_orderkey"))
    Layout.append(src.filter(col("o_orderkey") % 3 === 1), out,
      "bucket", Seq("o_orderkey"))
    Layout.append(src.filter(col("o_orderkey") % 3 === 2), out,
      "bucket", Seq("o_orderkey"))
    val report = Layout.compact(spark, out, "bucket", Seq("o_orderkey"), "o_orderkey")
    val compactRows = report.map(r =>
      ("compact", f"${r.bucket}%06d", r.filesBefore, r.filesAfter, r.rows))
    val back = spark.read.parquet(out)
      .withColumn("bucket", col("bucket").cast("long"))
    val checksum = back.withColumn("h", ordersRowHash)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("m1"), expr("bit_xor(h)").as("m2"),
        sum(col("h") % 1000000000000L).as("m3"))
      .select(lit("checksum").as("section"),
        lpad(col("bucket").cast("string"), 6, "0").as("label"),
        col("m1"), col("m2"), col("m3"))
    val stats = Layout.rowGroupStats(spark, out, "o_orderkey")
    val perBucket = stats
      .groupBy(_.bucket.getOrElse(sys.error(
        "compaction left a data file outside a bucket directory")))
      .map { case (b, ss) =>
        (b, ss.map(_.min).min, ss.map(_.max).max, ss.map(_.rowCount).sum)
      }.toSeq
    val nFiles = stats.map(_.path).distinct.size.toLong
    val survival = publishPreds.map { case (lbl, lo, hi) =>
      val surv = perBucket.filter { case (_, mn, mx, _) => mx >= lo && mn < hi }
      ("survival", lbl, nFiles, surv.size.toLong, surv.map(_._4).sum)
    }
    val pruned = publishPreds.map { case (lbl, lo, hi) =>
      val r = Layout.prunedScan(spark, out, "o_orderkey", lo, hi, Some(stats))
        .withColumn("h", ordersRowHash)
        .agg(count(lit(1)).as("m1"),
          coalesce(sum((dec2(col("o_totalprice")) * 100).cast("long")), lit(0L)).as("m2"),
          coalesce(expr("bit_xor(h)"), lit(0L)).as("m3"))
        .collect()(0)
      ("pruned", lbl, r.getLong(0), r.getLong(1), r.getLong(2))
    }
    checksum.unionAll(
        (compactRows ++ survival ++ pruned)
          .toDF("section", "label", "m1", "m2", "m3"))
      .orderBy(col("section"), col("label"))
  }

  /** Manifest-committed snapshots under the gate — the atomicity
    * upgrade path q161's compact documents, built and proven
    * ([[graft.operators.Snapshots]]): three residue-split loads
    * commit versions 1–3, [[graft.operators.Snapshots.compact]]
    * commits version 4 re-pointing fragmented buckets at merged
    * files (old versions untouched), then
    * [[graft.operators.Snapshots.vacuum]] drops versions 1–3 and
    * deletes exactly the files no kept version references. Four
    * sections, all closed-form in key residues, inside one hash:
    *
    *  - 'read' rows, one per version: TIME TRAVEL — count + xor
    *    row-fold + mod-sum of each version's rows (v1 = residue 0,
    *    v2 = residues ≤ 1, v3 = v4 = everything), read AFTER all
    *    commits exist — later commits must not bleed into earlier
    *    versions;
    *  - 'files' rows, one per version: manifest file count (each
    *    load adds one file per touched bucket; compaction re-points
    *    fragmented buckets at exactly one), distinct buckets, rows;
    *  - 'vacuum' row: manifests dropped / data files deleted / kept
    *    — deleted is restated closed-form as (Σ residues per bucket
    *    + fragmented buckets) − compacted file count;
    *  - 'after' row: the live version re-read AFTER vacuum — count +
    *    fold prove vacuum deleted nothing a reader needs.
    *
    * Scale: a manifest is one small file per commit (driver
    * metadata, O(files)); commit is one create-exclusive call;
    * compaction stages only fragmented buckets; vacuum's walk is the
    * same file-count-bounded listing every table format runs. */
  def q162(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_snap_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    // fresh table per run (publish refuses an existing history)
    graft.operators.Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    val v1 = Snapshots.publish(src.filter(col("o_orderkey") % 3 === 0), out,
      "bucket", Seq("o_orderkey"))
    val v2 = Snapshots.append(src.filter(col("o_orderkey") % 3 === 1), out,
      "bucket", Seq("o_orderkey"))
    val v3 = Snapshots.append(src.filter(col("o_orderkey") % 3 === 2), out,
      "bucket", Seq("o_orderkey"))
    val v4 = Snapshots.compact(spark, out, "bucket", Seq("o_orderkey"))
    def fold(df: DataFrame): (Long, Long, Long) = {
      val r = df.withColumn("h", ordersRowHash)
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val vers = Seq(v1, v2, v3, v4)
    val reads = vers.zipWithIndex.map { case (v, i) =>
      val (c, x, s) = fold(Snapshots.readAt(spark, out, v))
      ("read", f"v${i + 1}%04d", c, x, s)
    }
    val fileRows = vers.zipWithIndex.map { case (v, i) =>
      val fls = Snapshots.files(spark, out, v)
      val buckets = fls.flatMap(Snapshots.fileBucket).distinct.size.toLong
      val rows = Snapshots.readAt(spark, out, v).count()
      ("files", f"v${i + 1}%04d", fls.size.toLong, buckets, rows)
    }
    // exclusive access (the gate is this table's only writer) -> the
    // concurrent-writer retention window is deliberately 0
    val (dropped, deleted, kept) = Snapshots.vacuum(spark, out, v4, retainMs = 0L)
    val vacRow = Seq(("vacuum", "only", dropped, deleted, kept))
    val (ac, ax, as_) = fold(Snapshots.read(spark, out))
    val afterRow = Seq(("after", "live", ac, ax, as_))
    (reads ++ fileRows ++ vacRow ++ afterRow)
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** MERGE (upsert) under the gate — the CDC apply step every
    * warehouse load runs ([[graft.operators.Snapshots.merge]]):
    * orders published as snapshot v1, then ONE update batch that
    * both MODIFIES every key ≡ 0 (mod 7) (price +1.00, status 'U')
    * and INSERTS shifted copies of every key ≡ 3 (mod 7) (key +
    * 2^30 — landing in brand-new buckets), committed as v2. Three
    * sections, all closed-form in key residues, inside one hash:
    *
    *  - 'read' rows: v1's fold unchanged AFTER the merge (time
    *    travel across a merge) and v2's fold equal to the oracle's
    *    restated post-merge content (unchanged ∪ modified ∪
    *    inserted — replaced rows GONE, not shadowed);
    *  - 'files' rows: per version, manifest files / distinct buckets
    *    / rows — v2 keeps one file per bucket (touched old buckets
    *    restaged, new buckets created, untouched shared);
    *  - 'delta' row: files shared / added / removed between the two
    *    manifests — shared = buckets no update touched, restated
    *    from residue-7 bucket counts.
    *
    * Scale: the anti-join reads ONLY touched buckets' rows; the
    * staged write is one hash repartition of exactly those rows;
    * untouched data neither moves nor re-lists. Cost ∝ churn. */
  def q164(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_merge_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    graft.operators.Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    val v1 = Snapshots.publish(src, out, "bucket", Seq("o_orderkey"))
    val updates = src.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
        .withColumn("o_orderstatus", lit("U"))
      .unionByName(
        src.filter(col("o_orderkey") % 7 === 3)
          .withColumn("o_orderkey", col("o_orderkey") + (1L << 30))
          .withColumn("o_orderstatus", lit("N"))
          .withColumn("bucket", expr(s"o_orderkey div $W")))
    val v2 = Snapshots.merge(updates, out, "bucket",
      Seq("o_orderkey"), Seq("o_orderkey"))
    def fold(df: DataFrame): (Long, Long, Long) = {
      val r = df.withColumn("h", ordersRowHash)
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val reads = Seq(v1, v2).zipWithIndex.map { case (v, i) =>
      val (c, x, s) = fold(Snapshots.readAt(spark, out, v))
      ("read", f"v${i + 1}%04d", c, x, s)
    }
    val fileRows = Seq(v1, v2).zipWithIndex.map { case (v, i) =>
      val fls = Snapshots.files(spark, out, v)
      val buckets = fls.flatMap(Snapshots.fileBucket).distinct.size.toLong
      ("files", f"v${i + 1}%04d", fls.size.toLong, buckets,
        Snapshots.readAt(spark, out, v).count())
    }
    val f1 = Snapshots.files(spark, out, v1).toSet
    val f2 = Snapshots.files(spark, out, v2).toSet
    val delta = Seq(("delta", "files", (f1 & f2).size.toLong,
      (f2 -- f1).size.toLong, (f1 -- f2).size.toLong))
    (reads ++ fileRows ++ delta)
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** ORC round trip under the gate — the THIRD columnar interchange
    * leg (parquet is the native table format, Avro the row-oriented
    * ingest shape (q160); ORC is what Hive-era warehouses hand over,
    * and Spark carries a native vectorized reader/writer for it):
    * orders projected onto the type surfaces that actually diverge
    * across formats — TIMESTAMP (micros fidelity), DECIMAL(18,2)
    * (exact cents after the trip), boolean, binary, array, map and
    * nested struct — written as 4 ORC files and read back; every
    * value is closed-form in o_orderkey, so the oracle restates them
    * off the source table and the hash proves the ORC writer/reader
    * pair loses neither values nor types — including the timestamp's
    * NTZ-ness: ORC round-trips TIMESTAMP_NTZ as NTZ (observed: the
    * read-back rejects bare unix_micros, exactly like the parquet
    * source), so the fold casts first, the q118 discipline. Scale:
    * both legs are plain columnar scans (ORC predicate pushdown is
    * spec-asserted in FormatsSpec); one hash repartition on the
    * write. */
  def q163(spark: SparkSession, dir: String): DataFrame = {
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_orc_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val src = Tables.orders(spark, dir).select(
      col("o_orderkey"),
      col("o_orderstatus").as("status"),
      col("o_orderdate").as("ts"),
      dec2(col("o_totalprice")).as("price_dec"),
      (col("o_orderkey") % 2 === 0).as("b"),
      unhex(md5(col("o_orderkey").cast("string"))).as("bin"),
      array(col("o_orderkey"), col("o_custkey")).as("arr"),
      map(lit("k"), col("o_custkey")).as("m"),
      struct(col("o_orderpriority").as("p"),
        (col("o_orderkey") % 9).as("n")).as("rec"))
    src.repartition(4, col("o_orderkey"))
      .write.mode("overwrite").orc(out)
    spark.read.orc(out).select(
        col("o_orderkey"),
        col("status"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        (col("price_dec") * 100).cast("long").as("cents"),
        col("b"),
        hex(col("bin")).as("bin_hex"),
        array_join(transform(col("arr"), x => x.cast("string")), ",").as("arr_s"),
        col("m").getItem("k").as("mk"),
        col("rec").getField("p").as("p"),
        col("rec").getField("n").as("n"))
      .orderBy(col("o_orderkey"))
  }

  /** Change-feed extraction under the gate — CDC EMIT, the
    * complement of q164's CDC apply ([[graft.operators.Snapshots
    * .diff]]): exact multiset inserts/deletes between two versions,
    * computed from ONLY the files the two manifests do not share
    * (file sharing cancels the carried-over bulk at the metadata
    * level — cost ∝ churn, never table size). The scenario walks
    * every manifest-changing operation: v1 publish, v2 append
    * (status-'A' copies of keys ≡ 3 mod 7 — duplicate keys, multiset
    * semantics on display), v3 COMPACT, v4 merge (q164's batch).
    * Six section rows inside one hash: diff(v1,v2) = the A-copies
    * inserted / nothing deleted; diff(v2,v3) = EMPTY BOTH WAYS (the
    * compaction invariant, proven at the row level); diff(v3,v4) =
    * modified + shifted-insert rows in, original mod-7 rows out —
    * every side restated closed-form by the oracle. */
  def q166(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_diff_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    graft.operators.Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    val v1 = Snapshots.publish(src, out, "bucket", Seq("o_orderkey"))
    val v2 = Snapshots.append(
      src.filter(col("o_orderkey") % 7 === 3)
        .withColumn("o_orderstatus", lit("A")),
      out, "bucket", Seq("o_orderkey"))
    val v3 = Snapshots.compact(spark, out, "bucket", Seq("o_orderkey"))
    val updates = src.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
        .withColumn("o_orderstatus", lit("U"))
      .unionByName(
        src.filter(col("o_orderkey") % 7 === 3)
          .withColumn("o_orderkey", col("o_orderkey") + (1L << 30))
          .withColumn("o_orderstatus", lit("N"))
          .withColumn("bucket", expr(s"o_orderkey div $W")))
    val v4 = Snapshots.merge(updates, out, "bucket",
      Seq("o_orderkey"), Seq("o_orderkey"))
    val pairs = Seq((v1, v2, "p12"), (v2, v3, "p23"), (v3, v4, "p34"))
    // ONE grouped fold per pair instead of two filter+agg jobs (the
    // q172 discipline, guide §1.2): each diff frame — two exceptAll
    // shuffles over the non-shared files — now computes ONCE per
    // pair; absent kinds restate the empty fold's zeros. Values
    // identical (same hash, same partitions of the same rows).
    val rows = pairs.flatMap { case (a, b, lbl) =>
      val grouped = Snapshots.diff(spark, out, a, b)
        .withColumn("h", ordersRowHash)
        .groupBy(col("_change"))
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L)))
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      Seq("insert", "delete").map { kind =>
        val (c, x, s) = grouped.getOrElse(kind, (0L, 0L, 0L))
        (lbl, kind, c, x, s)
      }
    }
    rows.toDF("pair", "kind", "m1", "m2", "m3")
      .orderBy(col("pair"), col("kind"))
  }

  /** Exactly-once streaming sink under the gate
    * ([[graft.operators.Snapshots.mergeBatch]] — the foreachBatch
    * discipline that makes a Structured Streaming restart safe): the
    * applied batch id rides IN the committed manifest (one atomic
    * write covers ledger + file list, so they cannot diverge), and a
    * replayed id is absorbed as a no-op even when the re-delivered
    * data differs — the ledger decides, not the content. The gate
    * applies batch 7 (q164's modify batch), REPLAYS batch 7 with a
    * poisoned payload (every status flipped to 'X' — if the replay
    * applied, every fold below changes), then applies batch 8 (the
    * shifted inserts). Sections: 'state' (version count / latest /
    * ledger size — the replay committed NOTHING), 'read' (the final
    * fold == q164's apply-once closed form), 'ledger' (the batch-id
    * set itself). Streaming-side plumbing (a real
    * writeStream.foreachBatch over a file stream + checkpoint) is
    * SnapshotsSpec territory. */
  def q167(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_eos_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    graft.operators.Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    Snapshots.publish(src, out, "bucket", Seq("o_orderkey"))
    val mods = src.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .withColumn("o_orderstatus", lit("U"))
    Snapshots.mergeBatch(7L, mods, out, "bucket",
      Seq("o_orderkey"), Seq("o_orderkey"))
    // the restart re-delivery, poisoned: absorbed by the ledger
    Snapshots.mergeBatch(7L, mods.withColumn("o_orderstatus", lit("X")),
      out, "bucket", Seq("o_orderkey"), Seq("o_orderkey"))
    val inserts = src.filter(col("o_orderkey") % 7 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + (1L << 30))
      .withColumn("o_orderstatus", lit("N"))
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    Snapshots.mergeBatch(8L, inserts, out, "bucket",
      Seq("o_orderkey"), Seq("o_orderkey"))
    val vers = Snapshots.versions(spark, out)
    val batches = Snapshots.appliedBatches(spark, out)
    val r = Snapshots.read(spark, out).withColumn("h", ordersRowHash)
      .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
        coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
    Seq(
      ("state", "versions", vers.size.toLong, vers.max, batches.size.toLong),
      ("read", "final", r.getLong(0), r.getLong(1), r.getLong(2)),
      ("ledger", "batches", batches.sum, batches.min, batches.max))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** ADDITIVE schema evolution under the gate — the drift every
    * months-long table accumulates (new columns appear; q160 gated
    * Avro's reader-side resolution, this gates the SNAPSHOT TABLE's:
    * [[graft.operators.Snapshots]] null-fills columns a file
    * predates at read time, refuses drops at merge time): orders
    * published as v1, then a merge whose update batch CARRIES A NEW
    * COLUMN `o_src` (modified keys ≡ 0 mod 5, price +1.00, status
    * 'E', src 'b2'). Sections inside one hash: v1's fold on the old
    * schema (unchanged after the evolution — time travel ignores
    * the new column entirely), v2's fold WITH the src surface
    * (coalesced — old rows must read exactly null), and the
    * null/new-value counts. */
  def q168(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_evo_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    graft.operators.Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    val v1 = Snapshots.publish(src, out, "bucket", Seq("o_orderkey"))
    val evolved = src.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .withColumn("o_orderstatus", lit("E"))
      .withColumn("o_src", lit("b2"))
    val v2 = Snapshots.merge(evolved, out, "bucket",
      Seq("o_orderkey"), Seq("o_orderkey"))
    def fold(df: DataFrame, h: Column): (Long, Long, Long) = {
      val r = df.withColumn("h", h)
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val hSrc = {
      val canon = concat_ws("|",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        unix_micros(col("o_orderdate").cast("timestamp")),
        (dec2(col("o_totalprice")) * 100).cast("long"),
        coalesce(col("o_src"), lit("-")))
      conv(substring(md5(canon), 1, 15), 16, 10).cast("long")
    }
    val (c1, x1, s1) = fold(Snapshots.readAt(spark, out, v1), ordersRowHash)
    val (c2, x2, s2) = fold(Snapshots.readAt(spark, out, v2), hSrc)
    val back = Snapshots.readAt(spark, out, v2)
    val nulls = back.agg(
      sum(when(col("o_src").isNull, 1L).otherwise(0L)),
      sum(when(col("o_src") === "b2", 1L).otherwise(0L))).collect()(0)
    Seq(
      ("read_v1_oldschema", "fold", c1, x1, s1),
      ("read_v2_withsrc", "fold", c2, x2, s2),
      ("src_counts", "nulls_b2", nulls.getLong(0), nulls.getLong(1), 0L))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"))
  }

  /** Min/max pruning composed with TIME TRAVEL under the gate
    * ([[graft.operators.Snapshots.prunedScanAtBy]] — the manifest
    * supplies the file list and the per-file key min/max, only
    * survivors are read): orders published as v1, q164's
    * modify batch merged as v2, then every q156 key-range predicate
    * pruned-scanned AT BOTH VERSIONS. The folds must equal the
    * oracle's plain WHERE over each version's restated content —
    * v1's scans see pre-merge prices/statuses through pruned reads
    * even though newer files exist on disk, and p3's empty range
    * stays empty. I/O per scan ∝ the range's surviving files within
    * that version. */
  def q169(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_tprune_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    graft.operators.Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    val v1 = Snapshots.publish(src, out, "bucket", Seq("o_orderkey"))
    val mods = src.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .withColumn("o_orderstatus", lit("U"))
    val v2 = Snapshots.merge(mods, out, "bucket",
      Seq("o_orderkey"), Seq("o_orderkey"))
    val rows = Seq((v1, "v1"), (v2, "v2")).flatMap { case (v, vl) =>
      publishPreds.map { case (lbl, lo, hi) =>
        val r = Snapshots.prunedScanAtBy(spark, out, v, "o_orderkey", lo, hi)
          .withColumn("h", ordersRowHash)
          .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
            coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
        (vl, lbl, r.getLong(0), r.getLong(1), r.getLong(2))
      }
    }
    rows.toDF("version", "pred", "m1", "m2", "m3")
      .orderBy(col("version"), col("pred"))
  }

  /** The TABLE-FORMAT family END-TO-END under one gate (the
    * q127/q140/q150 chain discipline: each stage is gated standalone
    * — q162 snapshots, q161/q162 compaction, q164 merge, q168
    * evolution, q169 pruning, q162 vacuum — this pins the PLUMBING
    * between them across one table's whole life): three residue
    * loads → compact → an EVOLVED merge (new column) → a pruned
    * range scan of the final version → vacuum to the live version →
    * the survivor re-read. Sections inside one hash: per-version
    * 'chain' folds (v4's must equal v3's — compaction invisible in
    * content; v5's carries the coalesced src surface), the 'prune'
    * fold over the evolved final version, the 'vacuum' file
    * arithmetic (deleted = every file the five versions ever wrote
    * minus the live manifest — restated from residue counts), and
    * the 'final' post-vacuum fold + version count. */
  def q170(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_lake_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    graft.operators.Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    val v1 = Snapshots.publish(src.filter(col("o_orderkey") % 3 === 0), out,
      "bucket", Seq("o_orderkey"))
    val v2 = Snapshots.append(src.filter(col("o_orderkey") % 3 === 1), out,
      "bucket", Seq("o_orderkey"))
    val v3 = Snapshots.append(src.filter(col("o_orderkey") % 3 === 2), out,
      "bucket", Seq("o_orderkey"))
    val v4 = Snapshots.compact(spark, out, "bucket", Seq("o_orderkey"))
    val evolved = src.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .withColumn("o_orderstatus", lit("E"))
      .withColumn("o_src", lit("b2"))
    val v5 = Snapshots.merge(evolved, out, "bucket",
      Seq("o_orderkey"), Seq("o_orderkey"))
    val hSrc = {
      val canon = concat_ws("|",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        unix_micros(col("o_orderdate").cast("timestamp")),
        (dec2(col("o_totalprice")) * 100).cast("long"),
        coalesce(col("o_src"), lit("-")))
      conv(substring(md5(canon), 1, 15), 16, 10).cast("long")
    }
    def fold(df: DataFrame, h: Column): (Long, Long, Long) = {
      val r = df.withColumn("h", h)
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val chain = Seq(v1, v2, v3, v4).zipWithIndex.map { case (v, i) =>
      val (c, x, s) = fold(Snapshots.readAt(spark, out, v), ordersRowHash)
      ("chain", f"v${i + 1}%04d", c, x, s)
    } :+ {
      val (c, x, s) = fold(Snapshots.readAt(spark, out, v5), hSrc)
      ("chain", "v0005", c, x, s)
    }
    val prune = {
      val (c, x, s) = fold(
        Snapshots.prunedScanAtBy(spark, out, v5, "o_orderkey", 256L, 1280L), hSrc)
      Seq(("prune", "p1_low", c, x, s))
    }
    val (dropped, deleted, kept) = Snapshots.vacuum(spark, out, v5, retainMs = 0L)
    val vac = Seq(("vacuum", "only", dropped, deleted, kept))
    val (fc, fx, _) = fold(Snapshots.read(spark, out), hSrc)
    val fin = Seq(("final", "live", fc, fx,
      Snapshots.versions(spark, out).size.toLong))
    (chain ++ prune ++ vac ++ fin)
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** The snapshot table's CHANGE FEED as a LIVE Structured Streaming
    * source under the gate ([[graft.streaming.ChangeFeed]] — the CDC
    * consumer closing the loop q167's exactly-once sink opens; a
    * DSv2 MicroBatchStream whose offsets ARE committed versions):
    * q166's exact table life (publish → 'A' append → compact →
    * modify+insert merge) is drained BY A REAL STREAMING QUERY into
    * a memory sink, the file-level changelog is collapsed by
    * [[graft.streaming.ChangeFeed.net]] (exceptAll semantics), and
    * the per-(version, kind) folds go under one hash. The oracle
    * restates every step closed-form in key residues: v1 = the whole
    * table as inserts, v2 = the 'A' copies, v3 = ZERO both ways (a
    * compaction's net feed is empty even though its raw file-level
    * feed is not), v4 = q166's merge trade. Identical folds prove
    * stream == batch CDC: the streaming consumer sees exactly what
    * [[graft.operators.Snapshots.diff]] computes.
    *
    * Scale: batch planning is manifest-only (the files the two
    * manifests do not share); executors read whole churn files with
    * zero shuffle; the net fold is the one hash aggregation the
    * consumer's exceptAll would pay anyway. */
  def q172(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import graft.streaming.ChangeFeed
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_cdc_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    graft.operators.Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    Snapshots.publish(src, out, "bucket", Seq("o_orderkey"))
    Snapshots.append(
      src.filter(col("o_orderkey") % 7 === 3)
        .withColumn("o_orderstatus", lit("A")),
      out, "bucket", Seq("o_orderkey"))
    Snapshots.compact(spark, out, "bucket", Seq("o_orderkey"))
    val updates = src.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
        .withColumn("o_orderstatus", lit("U"))
      .unionByName(
        src.filter(col("o_orderkey") % 7 === 3)
          .withColumn("o_orderkey", col("o_orderkey") + (1L << 30))
          .withColumn("o_orderstatus", lit("N"))
          .withColumn("bucket", expr(s"o_orderkey div $W")))
    Snapshots.merge(updates, out, "bucket",
      Seq("o_orderkey"), Seq("o_orderkey"))
    // the LIVE consumer: drain the feed with a real streaming query
    val qn = "graft_cdc_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = ChangeFeed.readStream(spark, out)
      .writeStream.outputMode("append").format("memory").queryName(qn)
      .start()
    try q.processAllAvailable() finally q.stop()
    val net = ChangeFeed.net(spark.table(qn)).cache()
    val rows =
      try {
        // ONE grouped fold instead of 8 filter+agg jobs (guide §1.2):
        // per (version, kind) the grouped count/xor/sum are exactly
        // the per-filter folds; absent groups restate the empty
        // fold's (0, 0, 0)
        val grouped = net.withColumn("h", ordersRowHash)
          .groupBy(col("_version"), col("_change"))
          .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
            coalesce(sum(col("h") % 1000000000000L), lit(0L)))
          .collect()
          .map(r => (r.getLong(0), r.getString(1)) ->
            (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
        (1L to 4L).flatMap { v =>
          Seq("insert", "delete").map { kind =>
            val (c, x, s) = grouped.getOrElse((v, kind), (0L, 0L, 0L))
            (f"v$v%04d", kind, c, x, s)
          }
        }
      } finally {
        net.unpersist()
        spark.catalog.dropTempView(qn)
      }
    rows.toDF("version", "kind", "m1", "m2", "m3")
      .orderBy(col("version"), col("kind"))
  }

  /** The FULL CDC LOOP under one gate — producer, feed and
    * exactly-once consumer CHAINED (q167 gates the sink, q172 the
    * source; this pins the composition a real replication pipeline
    * ships): a source table lives through publish → new-key append →
    * compact → modify-merge, and a LIVE streaming query replicates
    * it into a SECOND snapshot table — [[graft.streaming.ChangeFeed]]
    * paced at ONE COMMITTED VERSION PER MICROBATCH (admission
    * control live under the gate), each batch NETTED
    * ([[graft.streaming.ChangeFeed.net]]) and applied through
    * [[graft.operators.Snapshots.mergeBatch]]'s ledger as the FULL
    * CDC split: net inserts upsert, net deletes WITHOUT a same-key
    * insert apply as genuine row deletes (this source's life emits
    * none — replaced keys net to upsert pairs and the compact is a
    * NO-OP since the append created only new buckets; q178 gates a
    * life with real deletes). The bootstrap batch publishes WITH its
    * ledger stamp, so a crash-replay of batch 0 is absorbed like any
    * other. Sections: the source fold, the replica fold (MUST equal
    * it — the loop's whole claim), and the replica's version/ledger
    * arithmetic (3 commits; ledger {0,1,2}). */
  def q176(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import graft.streaming.ChangeFeed
    import spark.implicits._
    val W = 8192L
    val base = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_cdcloop_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    graft.operators.Snapshots.dropPath(spark, base)
    val srcT = s"$base/src"
    val repT = s"$base/replica"
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    Snapshots.publish(src, srcT, "bucket", Seq("o_orderkey"))
    Snapshots.append(
      src.filter(col("o_orderkey") % 7 === 3)
        .withColumn("o_orderkey", col("o_orderkey") + (1L << 31))
        .withColumn("o_orderstatus", lit("B"))
        .withColumn("bucket", expr(s"o_orderkey div $W")),
      srcT, "bucket", Seq("o_orderkey"))
    Snapshots.compact(spark, srcT, "bucket", Seq("o_orderkey"))
    Snapshots.merge(
      src.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
        .withColumn("o_orderstatus", lit("U")),
      srcT, "bucket", Seq("o_orderkey"), Seq("o_orderkey"))
    // the consumer: one committed version per microbatch, netted,
    // inserts upserted into the replica through the batch ledger
    val q = ChangeFeed.readStream(spark, srcT, maxVersionsPerBatch = 1L)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one materialization of the batch's net per microbatch: the
        // sink consumes inserts and deletes through several actions,
        // each of which would otherwise replay the changed-file read
        // + the net() shuffle (guide §5)
        val net = ChangeFeed.net(batch)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val inserts = net.filter(col(ChangeFeed.ChangeCol) === "insert")
            .drop(ChangeFeed.ChangeCol, ChangeFeed.VersionCol)
          // TRUE deletes: net delete keys with no same-key insert in the
          // batch (a replaced key is an upsert, never a delete+insert)
          val deletes = net.filter(col(ChangeFeed.ChangeCol) === "delete")
            .drop(ChangeFeed.ChangeCol, ChangeFeed.VersionCol)
            .join(inserts.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          Snapshots.mergeBatch(batchId, inserts, repT, "bucket",
            Seq("o_orderkey"), Seq("o_orderkey"), deletes = Some(deletes))
        } finally net.unpersist(false)
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    def fold(df: DataFrame): (Long, Long, Long) = {
      val r = df.withColumn("h", ordersRowHash)
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // the two final folds are independent reads of different tables —
    // overlap them (guide §2.6, the q189 shape)
    val Seq((s1, s2, s3), (r1, r2, r3)) = Par.all(spark, "q176.fold")(Seq(
      () => fold(Snapshots.read(spark, srcT)),
      () => fold(Snapshots.read(spark, repT))))
    val ledger = Snapshots.appliedBatches(spark, repT)
    Seq(
      ("source", "final", s1, s2, s3),
      ("replica", "final", r1, r2, r3),
      ("state", "replica",
        Snapshots.versions(spark, repT).size.toLong,
        Snapshots.latest(spark, repT).get,
        ledger.size.toLong),
      ("ledger", "ids", ledger.sum, ledger.min, ledger.max))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** The change feed ACROSS A TYPE WIDENING under the gate (the r9
    * composition gap, closed and gated: q175 widens int→long with NO
    * file rewrite, so a stream replaying that table's history reads
    * OLD int32 files under the WIDENED feed schema — the executor
    * reader now dispatches on each file's PHYSICAL parquet primitive
    * and widens to the feed type, exactly as its own Decimal branch
    * and Spark's batch reader always did): orders with o_custkey
    * narrowed to INT (`cust_i`) publish (v1), a mod-9 merge widens it
    * to LONG (v2 — untouched buckets keep their int32 files, the
    * whole point), and a NARROW batch appends AFTER the widening (v3
    * — a fresh int32 file born under a long schema). The FULL history
    * drains through a live streaming query; per-(version, kind) net
    * folds restate closed-form over the key residues; the schema row
    * pins the feed surface (cust_i is LONG; genesis rows all arrive
    * below 2³¹ — values intact through the promotion; exactly the
    * mod-9 rows arrive wide). */
  def q177(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import graft.streaming.ChangeFeed
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_widefeed_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir).select(
        col("o_orderkey"),
        col("o_custkey").cast("int").as("cust_i"),
        col("o_orderstatus"))
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    Snapshots.publish(src, out, "bucket", Seq("o_orderkey"))
    Snapshots.merge(
      src.filter(col("o_orderkey") % 9 === 0)
        .withColumn("cust_i", col("cust_i").cast("long") + 3000000000L)
        .withColumn("o_orderstatus", lit("W")),
      out, "bucket", Seq("o_orderkey"), Seq("o_orderkey"))
    Snapshots.append(
      src.filter(col("o_orderkey") % 5 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + (1L << 31))
        .withColumn("o_orderstatus", lit("X"))
        .withColumn("bucket", expr(s"o_orderkey div $W")),
      out, "bucket", Seq("o_orderkey"))
    val qn = "graft_wf_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = ChangeFeed.readStream(spark, out)
      .writeStream.outputMode("append").format("memory").queryName(qn)
      .start()
    try q.processAllAvailable() finally q.stop()
    val feed = spark.table(qn)
    val custIsLong = feed.schema("cust_i").dataType ==
      org.apache.spark.sql.types.LongType
    val net = ChangeFeed.net(feed).cache()
    val h = conv(substring(md5(concat_ws("|",
      col("o_orderkey"), col("cust_i"), col("o_orderstatus"))), 1, 15),
      16, 10).cast("long")
    val rows =
      try {
        // ONE grouped fold instead of 6 filter+agg jobs (the q172
        // discipline) — absent groups restate the empty fold's zeros.
        // The two wide-value counts ride the SAME pass as one more
        // aggregate column (guide §1.2 — they were two further jobs
        // over the cached net): wideGenesis sums the v1 groups,
        // wideV2 is the (2, insert) group's count.
        val grouped = net.withColumn("h", h)
          .groupBy(col("_version"), col("_change"))
          .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
            coalesce(sum(col("h") % 1000000000000L), lit(0L)),
            sum(when(col("cust_i") >= 2147483648L, 1L).otherwise(0L)))
          .collect()
          .map(r => (r.getLong(0), r.getString(1)) ->
            (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
        val folds = (1L to 3L).flatMap { v =>
          Seq("insert", "delete").map { kind =>
            val (c, x, s, _) = grouped.getOrElse((v, kind), (0L, 0L, 0L, 0L))
            (f"v$v%04d", kind, c, x, s)
          }
        }
        val wideGenesis = grouped.collect {
          case ((1L, _), (_, _, _, w)) => w
        }.sum
        val wideV2 = grouped.getOrElse((2L, "insert"), (0L, 0L, 0L, 0L))._4
        folds :+ (("schema", "feed",
          if (custIsLong) 1L else 0L, wideGenesis, wideV2))
      } finally {
        net.unpersist()
        spark.catalog.dropTempView(qn)
      }
    rows.toDF("version", "kind", "m1", "m2", "m3")
      .orderBy(col("version"), col("kind"))
  }

  /** ROW DELETE through the FULL CDC loop under the gate — the table
    * format's missing half, shipped ([[graft.operators.Snapshots
    * .delete]] / [[graft.operators.Snapshots.applyChanges]] / the
    * `deletes` side of mergeBatch): orders publish (v1), a PURE
    * delete of the mod-11 keys (v2 — the GDPR-erasure shape: only
    * touched buckets rewrite; a fully-emptied bucket vanishes from
    * the manifest), then ONE commit carrying upserts (mod-7 price
    * bump, 'D') AND deletes (mod-13≡3 ∧ mod-7≠0) atomically (v3). A
    * LIVE stream replicates the whole life into a second table — net
    * deletes without a same-key insert APPLY as genuine row deletes
    * (q176's former inserts-only contract, dropped). Sections:
    * per-version source folds in closed residue algebra, replica
    * final == source final (the loop's claim), TIME TRAVEL back
    * across both deletes, the replica ledger {0,1,2}, and VACUUM
    * reclaiming the delete-rewritten buckets while the head still
    * folds identically. */
  def q178(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import graft.streaming.ChangeFeed
    import spark.implicits._
    val W = 8192L
    val base = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_delcdc_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Snapshots.dropPath(spark, base)
    val srcT = s"$base/src"
    val repT = s"$base/replica"
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    Snapshots.publish(src, srcT, "bucket", Seq("o_orderkey"))
    Snapshots.delete(
      src.filter(col("o_orderkey") % 11 === 0).select("o_orderkey", "bucket"),
      srcT, "bucket", Seq("o_orderkey"), Seq("o_orderkey"))
    val upd = src.filter(col("o_orderkey") % 7 === 0 &&
        col("o_orderkey") % 11 =!= 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .withColumn("o_orderstatus", lit("D"))
    val dels = src.filter(col("o_orderkey") % 13 === 3 &&
        col("o_orderkey") % 7 =!= 0 && col("o_orderkey") % 11 =!= 0)
      .select("o_orderkey", "bucket")
    Snapshots.applyChanges(upd, dels, srcT, "bucket",
      Seq("o_orderkey"), Seq("o_orderkey"))
    // the consumer: one committed version per microbatch, the full
    // CDC split — net inserts upsert, true net deletes delete
    val q = ChangeFeed.readStream(spark, srcT, maxVersionsPerBatch = 1L)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one materialization of the batch's net per microbatch (the
        // q176 discipline, guide §5): the sink's several actions read
        // the cached net instead of replaying the changed-file read +
        // net() shuffle each
        val net = ChangeFeed.net(batch)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val inserts = net.filter(col(ChangeFeed.ChangeCol) === "insert")
            .drop(ChangeFeed.ChangeCol, ChangeFeed.VersionCol)
          val deletes = net.filter(col(ChangeFeed.ChangeCol) === "delete")
            .drop(ChangeFeed.ChangeCol, ChangeFeed.VersionCol)
            .join(inserts.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          Snapshots.mergeBatch(batchId, inserts, repT, "bucket",
            Seq("o_orderkey"), Seq("o_orderkey"), deletes = Some(deletes))
        } finally net.unpersist(false)
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    def fold(df: DataFrame): (Long, Long, Long) = {
      val r = df.withColumn("h", ordersRowHash)
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // the four verification folds are independent version-pinned
    // reads — run them CONCURRENTLY (guide §2.6, the q189 shape);
    // the 'source final' and 'travel v1' rows RESTATE the v3/v1 folds
    // (read == readAt(latest); the fold is deterministic) instead of
    // recomputing them as two more full-table jobs (guide §1.2)
    val folds = Par.all(spark, "q178.fold")(
      (1L to 3L).map(v => () => fold(Snapshots.readAt(spark, srcT, v))) :+
        (() => fold(Snapshots.read(spark, repT))))
    val (readFolds, repFold) = (folds.init, folds.last)
    val reads = (1L to 3L).map { v =>
      val (c, x, s) = readFolds((v - 1).toInt)
      ("read", f"v$v%04d", c, x, s)
    }
    val (s1, s2, s3) = readFolds(2) // head == v3: same fold, restated
    val (r1, r2, r3) = repFold
    // time travel: v1 still reads every later-deleted row
    val (t1, t2, t3) = readFolds(0)
    val ledger = Snapshots.appliedBatches(spark, repT)
    // vacuum past both deletes: the rewritten buckets' old files go;
    // the head must fold identically afterwards
    val (dropped, deleted, _) = Snapshots.vacuum(spark, srcT, 3L, retainMs = 0L)
    val (a1, a2, a3) = fold(Snapshots.read(spark, srcT))
    (reads ++ Seq(
      ("source", "final", s1, s2, s3),
      ("replica", "final", r1, r2, r3),
      ("travel", "v0001", t1, t2, t3),
      ("ledger", "ids", ledger.sum, ledger.min, ledger.max),
      ("vacuum", "reclaim", dropped,
        if (deleted > 0) 1L else 0L,
        if ((a1, a2, a3) == ((s1, s2, s3))) 1L else 0L)))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** COLUMN RENAME under the gate (format 2.1 — the evolution axis the
    * judge's backlog named, done Iceberg-style with an alias map
    * instead of field IDs: the PHYSICAL name a column is born under
    * never changes and is what every data file stores; `#colmap`
    * manifest lines bind physical→logical, so a rename is a
    * METADATA-ONLY commit and reads stay ONE parquet relation plus a
    * single projection): orders publish (v1), rename o_orderstatus →
    * status (v2 — lists v1's EXACT files), a merge AFTER the rename
    * whose updates carry the new name (v3 — staged under the BIRTH
    * name, so all files agree), an append of new keys (v4), and a
    * LIVE change-feed drain of the WHOLE history (old files' physical
    * columns surface under the latest logical names — the
    * refuses-or-maps question answered with MAPS). Sections: reads at
    * v1 (old name) / v2 (new name, same values) / v4, per-version net
    * feed folds (the rename version contributes ZERO file-level
    * changes — identical files cancel at the metadata level), a
    * pruned scan across both renames (stats are PHYSICAL-keyed,
    * rename-proof), and the state row (files(v2)==files(v1),
    * version count, schema flags). */
  def q179(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import graft.streaming.ChangeFeed
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_rename_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    val v1 = Snapshots.publish(src, out, "bucket", Seq("o_orderkey"))
    val v2 = Snapshots.rename(spark, out, "o_orderstatus", "status")
    Snapshots.merge(
      src.filter(col("o_orderkey") % 6 === 1)
        .withColumnRenamed("o_orderstatus", "status")
        .withColumn("status", lit("R")),
      out, "bucket", Seq("o_orderkey"), Seq("o_orderkey")) // v3
    val v4 = Snapshots.append(
      src.filter(col("o_orderkey") % 10 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + (1L << 31))
        .withColumnRenamed("o_orderstatus", "status")
        .withColumn("status", lit("A"))
        .withColumn("bucket", expr(s"o_orderkey div $W")),
      out, "bucket", Seq("o_orderkey"))
    def hWith(st: Column): Column =
      conv(substring(md5(concat_ws("|",
        col("o_orderkey"), col("o_custkey"), st)), 1, 15), 16, 10).cast("long")
    def fold(df: DataFrame, st: Column): (Long, Long, Long) = {
      val r = df.withColumn("h", hWith(st))
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // four independent version-pinned folds (v1/v2/v4 reads + the
    // pruned mid-range scan), run CONCURRENTLY (guide §2.6)
    val Seq((a1, a2, a3), (b1, b2, b3), (c1, c2, c3), (p1, p2, p3)) =
      Par.all(spark, "q179.fold")(Seq(
        () => fold(Snapshots.readAt(spark, out, v1), col("o_orderstatus")),
        () => fold(Snapshots.readAt(spark, out, v2), col("status")),
        () => fold(Snapshots.readAt(spark, out, v4), col("status")),
        () => fold(
          Snapshots.prunedScanAtBy(spark, out, v4, "o_orderkey", 4096L, 12288L),
          col("status"))))
    val qn = "graft_ren_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = ChangeFeed.readStream(spark, out)
      .writeStream.outputMode("append").format("memory").queryName(qn)
      .start()
    try q.processAllAvailable() finally q.stop()
    val net = ChangeFeed.net(spark.table(qn)).cache()
    val rows =
      try {
        // ONE grouped fold instead of 8 filter+agg jobs (the q172
        // discipline) — absent groups restate the empty fold's zeros
        val grouped = net.withColumn("h", hWith(col("status")))
          .groupBy(col("_version"), col("_change"))
          .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
            coalesce(sum(col("h") % 1000000000000L), lit(0L)))
          .collect()
          .map(r => (r.getLong(0), r.getString(1)) ->
            (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
        (1L to 4L).flatMap { v =>
          Seq("insert", "delete").map { kind =>
            val (c, x, s) = grouped.getOrElse((v, kind), (0L, 0L, 0L))
            (f"feed_v$v%04d", kind, c, x, s)
          }
        }
      } finally {
        net.unpersist()
        spark.catalog.dropTempView(qn)
      }
    val state = (
      if (Snapshots.files(spark, out, v2) == Snapshots.files(spark, out, v1))
        1L else 0L,
      Snapshots.versions(spark, out).size.toLong,
      if (Snapshots.readAt(spark, out, v1).columns.contains("o_orderstatus") &&
        Snapshots.read(spark, out).columns.contains("status")) 1L else 0L)
    (Seq(
      ("read", "v0001", a1, a2, a3),
      ("read", "v0002", b1, b2, b3),
      ("read", "v0004", c1, c2, c3)) ++
      rows.map(r => ("feed", r._1.stripPrefix("feed_") + "_" + r._2,
        r._3, r._4, r._5)) ++
      Seq(
        ("prune", "mid", p1, p2, p3),
        ("state", "meta", state._1, state._2, state._3)))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** TYPED MULTI-COLUMN manifest stats under the gate (the r9
    * "stats are single-column INT64-only" gap, closed: format 2.1
    * `#stat2` lines record per-file min/max for a DECLARED stats
    * column list — long, string and timestamp surfaces here — typed-
    * footer-walked once per commit over only that commit's new files,
    * and [[graft.operators.Snapshots.prunedScanAtBy]] plans from the
    * manifest on ANY recorded column): orders land in THREE
    * date-sliced commits (<1997, 1997–99, ≥1999), so per-file date
    * ranges genuinely discriminate. Sections: a TIMESTAMP-pruned scan
    * (mid-window — exactly the middle slice's files survive, the
    * 'state' row counts 2 of 6 through
    * [[graft.operators.Snapshots.prunedFilesBy]], the same manifest-only
    * decision the scan makes), a
    * STRING-pruned scan (status ['O','P') — unsigned-byte order), a
    * second-key long prune, and the full fold; every prune equals its
    * closed-form filter. */
  def q180(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_prune2_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    def ts(s: String) = lit(s).cast("timestamp")
    val v1 = Snapshots.publish(
      src.filter(col("o_orderdate") < ts("1997-01-01")),
      out, "bucket", Seq("o_orderkey"),
      statsCols = Seq("o_orderkey", "o_orderstatus", "o_orderdate"))
    Snapshots.append(
      src.filter(col("o_orderdate") >= ts("1997-01-01") &&
        col("o_orderdate") < ts("1999-01-01")),
      out, "bucket", Seq("o_orderkey"))
    val v3 = Snapshots.append(
      src.filter(col("o_orderdate") >= ts("1999-01-01")),
      out, "bucket", Seq("o_orderkey"))
    def us(s: String): Long =
      java.time.Instant.parse(s + "T00:00:00Z").toEpochMilli * 1000L
    val (lo, hi) = (us("1997-06-01"), us("1998-06-01"))
    def fold(df: DataFrame): (Long, Long, Long) = {
      val r = df.withColumn("h", ordersRowHash)
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // the skip decision from the manifest stats alone: how many files
    // could the window touch (the 'state' proof row)
    val surviving = Snapshots.prunedFilesBy(spark, out, v3, "o_orderdate", lo, hi).size
    val (t1, t2, t3) = fold(Snapshots.prunedScanAtBy(spark, out, v3,
      "o_orderdate", lo, hi))
    val (o1, o2, o3) = fold(Snapshots.prunedScanAtBy(spark, out, v3,
      "o_orderstatus", "O", "P"))
    val (k1, k2, k3) = fold(Snapshots.prunedScanAtBy(spark, out, v3,
      "o_orderkey", 4096L, 12288L))
    val (f1, f2, f3) = fold(Snapshots.read(spark, out))
    Seq(
      ("full", "read", f1, f2, f3),
      ("prune_key", "mid", k1, k2, k3),
      ("prune_str", "O", o1, o2, o3),
      ("prune_ts", "mid", t1, t2, t3),
      ("state", "files", surviving.toLong,
        Snapshots.files(spark, out, v3).size.toLong,
        Snapshots.versions(spark, out).size.toLong))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** HASH-BUCKETED snapshot table under the gate (the judge-backlog
    * "key-hash bucket derivation for non-range keys" variant —
    * [[graft.operators.HashBucketedTable]], a q174-class life over a
    * STRING key): publish at 8 buckets, metadata-only
    * [[graft.operators.HashBucketedTable.evolveBuckets]] to 32 (v3
    * lists v2's exact files), append at the new modulus (epochs
    * coexist), a 300-key MERGE and a DELETE whose rewrite sets come
    * from PER-EPOCH HASH ARITHMETIC (range stats cannot discriminate
    * under a hash layout — that honest difference is the design), the
    * migrator compact, and a POINT LOOKUP reading only the hashed
    * buckets per epoch. Sections: per-version folds (v3==v2
    * metadata-only, v7==v6 migration moves nothing), the lookup fold,
    * epoch/migrate invariants, and the state row. */
  def q181(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{HashBucketedTable => H, Snapshots}
    import spark.implicits._
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_hbucket_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir).select(
      format_string("k%010d", col("o_orderkey")).as("key"),
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"))
    val v1 = H.publish(src.filter(col("o_orderkey") % 3 === 0), out, "key", 8L)
    val v2 = H.append(src.filter(col("o_orderkey") % 3 === 1), out)
    val v3 = H.evolveBuckets(spark, out, 32L)
    val v4 = H.append(src.filter(col("o_orderkey") % 3 === 2), out)
    val v5 = H.merge(
      src.filter(col("o_orderkey") % 500 === 7)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + 1.0),
      out, Seq("key"))
    val v6 = H.delete(
      src.filter(col("o_orderkey") % 500 === 11).select("key"), out, Seq("key"))
    val v7 = H.compact(spark, out)
    def fold(df: DataFrame): (Long, Long, Long) = {
      val h = conv(substring(md5(concat_ws("|",
        col("key"), col("o_custkey"), col("o_orderstatus"),
        (dec2(col("o_totalprice")) * 100).cast("long"))), 1, 15),
        16, 10).cast("long")
      val r = df.withColumn("h", h)
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // seven independent version-pinned folds (six reads + the
    // lookup), run CONCURRENTLY (guide §2.6, the q189 shape)
    val versions = Seq(v1 -> "v0001", v3 -> "v0003", v4 -> "v0004",
      v5 -> "v0005", v6 -> "v0006", v7 -> "v0007")
    val folds = Par.all(spark, "q181.fold")(
      versions.map { case (v, _) => () => fold(H.readAt(spark, out, v)) } :+
        (() => fold(H.lookupAt(spark, out, v7, Seq(
          "k0000000077", "k0000007007", "k0000014011", "nope")))))
    val (readFolds, lookupFold) = (folds.init, folds.last)
    val reads = versions.zip(readFolds).map { case ((_, lbl), (c, x, s)) =>
      ("read", lbl, c, x, s)
    }
    val (l1, l2, l3) = lookupFold
    val e4 = H.fileBuckets(spark, out, v4).values.toSet
    val e7 = H.fileBuckets(spark, out, v7)
    val epochRows = Seq(
      ("epochs", "v0004",
        if (e4 == Set(8L, 32L)) 1L else 0L,
        if (Snapshots.files(spark, out, v3) ==
          Snapshots.files(spark, out, v2)) 1L else 0L,
        if (Snapshots.files(spark, out, v5).toSet
          .intersect(Snapshots.files(spark, out, v4).toSet).nonEmpty) 1L else 0L),
      ("migrate", "v0007",
        e7.values.count(_ != 32L).toLong,
        if (Snapshots.files(spark, out, v7)
          .groupBy(Snapshots.fileBucket).forall(_._2.size == 1)) 1L else 0L,
        if (H.compact(spark, out) == v7) 1L else 0L))
    val state = Seq(("state", "meta",
      Snapshots.versions(spark, out).size.toLong,
      Snapshots.latest(spark, out).get,
      H.currentBuckets(spark, out)._2))
    (reads ++ Seq(("lookup", "keys", l1, l2, l3)) ++ epochRows ++ state)
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** NDV SKETCHES in the manifest under the gate (the r9-backlog
    * join-planning statistic, shipped as [[graft.operators.Ndv]] KMV
    * sketches — `#ndv` per-FILE lines computed once per immutable
    * file at staging, merged EXACTLY to the union's sketch at read,
    * zero data opens): orders publish with declared ndvCols, then a
    * mod-3 DELETE (rewritten buckets re-sketch, so the estimate
    * tracks row removal). Rows per (version, column): m1 = the EXACT
    * distinct count (the SQL-checkable surface), m2 = 1 iff the
    * manifest estimate lands within the 3σ band (27% at k=128 —
    * deterministic, xxhash64 is fixed), m3 = 1 iff the sketch is
    * EXACT (fewer than k values — o_orderstatus's 3). The estimates
    * themselves are engine-native (xxhash64) and deliberately NOT the
    * oracle surface; the band flags are (the q64x discipline). */
  def q182(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_ndv_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    val v1 = Snapshots.publish(src, out, "bucket", Seq("o_orderkey"),
      ndvCols = Seq("o_orderkey", "o_custkey", "o_orderstatus"))
    val v2 = Snapshots.delete(
      src.filter(col("o_orderkey") % 3 === 0).select("o_orderkey", "bucket"),
      out, "bucket", Seq("o_orderkey"), Seq("o_orderkey"))
    // ONE aggregate per version carries all three exact distinct
    // counts (guide §1.2: 2 jobs, not 6); values identical to the
    // per-column folds this replaced
    def rows(v: Long): Seq[(String, String, Long, Long, Long)] = {
      val cols = Seq(("custkey", "o_custkey"), ("orderkey", "o_orderkey"),
        ("status", "o_orderstatus"))
      val r = Snapshots.readAt(spark, out, v)
        .agg(countDistinct(col(cols.head._2)),
          cols.tail.map(c => countDistinct(col(c._2))): _*).collect()(0)
      cols.zipWithIndex.map { case ((lbl, c), i) =>
        val exact = r.getLong(i)
        val (est, isExact) = Snapshots.approxDistinctAt(spark, out, v, c)
        (f"v$v%04d", lbl,
          exact,
          if (math.abs(est / exact.toDouble - 1.0) <= 0.27) 1L else 0L,
          if (isExact) 1L else 0L)
      }
    }
    // the two per-version NDV folds are independent — overlap them
    // (guide §2.6, the q189 shape)
    Par.all(spark, "q182.ndv")(Seq(() => rows(v1), () => rows(v2))).flatten
      .toDF("version", "colname", "m1", "m2", "m3")
      .orderBy(col("version"), col("colname"))
  }

  /** Z-ORDER TABLE LAYOUT under the gate (the r10-backlog
    * "multi-column layout keys for the snapshot WRITE PATH" —
    * [[graft.operators.ZOrderTable]]: rows bucketed by their Morton-
    * key PREFIX, one file per curve cell, per-dimension typed stats
    * auto-declared, layout carried as a table property): orders on a
    * derived 2-D grid (x = key·7919 mod 2^16, y = custkey·104729 mod
    * 2^16 — both SQL-expressible scatters), published at shift 26 =
    * 64 level-3 cells. The 'state' rows are CLOSED FORM BY
    * CONSTRUCTION: the cell-aligned quadrant box [0,16384)^2 reads
    * EXACTLY 2×2 = 4 of 64 files and a single-dimension window 2×8 =
    * 16 — a linear sort order prunes only its leading column; here
    * BOTH dimensions prune, and their conjunction INTERSECTS
    * ([[graft.operators.Snapshots.prunedFilesBox]]). The write path
    * then composes: a pruned MERGE (dims in the key — attribute bump
    * on key%500==7) and a DELETE (key%5==0) keep the layout and the
    * closed-form pruning counts. Then the layout EVOLVES like its
    * bucketed siblings (q174/q181): [[graft.operators.ZOrderTable
    * .evolveShift]] to the coarser 4×4 grid is METADATA-ONLY (v4
    * lists v3's exact files — pinned), an append of shifted keys
    * lands at the NEW epoch (epochs coexist, pinned 2), and the
    * migrator [[graft.operators.ZOrderTable.compact]] rewrites every
    * stale cell — 16 level-2 cells, the quadrant box now reads
    * EXACTLY 1 of 16 files, and v6 hashes identically to v5
    * (migration moves nothing). Every fold is the exact residual
    * answer the oracle recomputes from raw orders. */
  def q183(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Snapshots, ZOrderTable => Z}
    import spark.implicits._
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_ztable_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      (col("o_orderkey") * 7919 % 65536).as("x"),
      (col("o_custkey") * 104729 % 65536).as("y"))
    val v1 = Z.publish(src, out, Seq("x", "y"), shift = 26)
    // pruned merge (dims in the key): attribute bump, cells unchanged
    Z.merge(src.filter(col("o_orderkey") % 500 === 7)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0)),
      out, Seq("o_orderkey", "x", "y"))
    val v3 = Z.delete(src.filter(col("o_orderkey") % 5 === 0)
        .select("o_orderkey", "x", "y"),
      out, Seq("o_orderkey", "x", "y"))
    // SHIFT EVOLUTION (metadata-only, coarser 4x4 grid), an append at
    // the new epoch (shifted keys -> epochs coexist), the migrator
    val v4 = Z.evolveShift(spark, out, 28)
    val v5 = Z.append(Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 10 === 7).select(
        (col("o_orderkey") + lit(2147483648L)).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"),
        ((col("o_orderkey") + lit(2147483648L)) * 7919 % 65536).as("x"),
        (col("o_custkey") * 104729 % 65536).as("y")), out)
    val v6 = Z.compact(spark, out)
    def fold(df: DataFrame): (Long, Long, Long) = {
      val canon = concat_ws("|", col("o_orderkey"), col("o_custkey"),
        col("x"), col("y"), (dec2(col("o_totalprice")) * 100).cast("long"))
      val r = df
        .withColumn("h", conv(substring(md5(canon), 1, 15), 16, 10).cast("long"))
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val boxPred = Seq(("x", 0L, 16384L), ("y", 0L, 16384L))
    def stateRow(v: Long) = (
      Z.boxFiles(spark, out, v, boxPred).size.toLong,
      Z.boxFiles(spark, out, v, Seq(("x", 0L, 16384L))).size.toLong,
      Snapshots.files(spark, out, v).size.toLong)
    // seven independent version-pinned verification folds, run
    // CONCURRENTLY (guide §2.6, the q189 shape): sequential they
    // serialize seven sub-second jobs' scheduling overhead
    val folds = Par.all(spark, "q183.fold")(Seq(
      () => fold(Z.box(spark, out, v1, boxPred)),
      () => fold(Z.box(spark, out, v3, boxPred)),
      () => fold(Z.box(spark, out, v3, Seq(("x", 0L, 16384L)))),
      () => fold(Z.box(spark, out, v3, Seq(("y", 0L, 16384L)))),
      () => fold(Z.readAt(spark, out, v3)),
      () => fold(Z.readAt(spark, out, v5)),
      () => fold(Z.readAt(spark, out, v6))))
    val Seq((b11, b12, b13), (b31, b32, b33), (x1, x2, x3),
      (y1, y2, y3), (f1, f2, f3), (g51, g52, g53), (g61, g62, g63)) = folds
    val (s11, s12, s13) = stateRow(v1)
    val (s31, s32, s33) = stateRow(v3)
    val (s61, s62, s63) = stateRow(v6)
    val metaOnly =
      if (Snapshots.files(spark, out, v4) ==
          Snapshots.files(spark, out, v3)) 1L else 0L
    Seq(
      ("box", "v0001", b11, b12, b13),
      ("box", "v0003", b31, b32, b33),
      ("window", "x", x1, x2, x3),
      ("window", "y", y1, y2, y3),
      ("read", "v0003", f1, f2, f3),
      ("read", "v0005", g51, g52, g53),
      ("read", "v0006", g61, g62, g63),
      ("state", "files_v0001", s11, s12, s13),
      ("state", "files_v0003", s31, s32, s33),
      ("state", "files_v0006", s61, s62, s63),
      ("state", "evolve", metaOnly,
        Z.fileShifts(spark, out, v5).values.toSet.size.toLong,
        Z.fileShifts(spark, out, v6).values.toSet.size.toLong),
      ("state", "meta",
        Z.boxFiles(spark, out, v3, Seq(("y", 0L, 16384L))).size.toLong,
        Snapshots.versions(spark, out).size.toLong,
        Z.currentLayout(spark, out).shift.toLong))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** CARRIED TABLE PROPERTIES + the PERIODIC CHECKPOINT POLICY under
    * the gate ([[graft.operators.Snapshots.setProp]] /
    * `prop:ckptevery=N` — Delta's table-properties +
    * `_last_checkpoint` disciplines fused: properties ride every
    * commit verbatim, and every Nth version refreshes the
    * committedness checkpoint INSIDE the write itself, so a fresh
    * process attaches to a long history with ONE file read and
    * nobody schedules maintenance): orders publish with
    * `ckptevery=2` + an owner tag, append (policy fires at v2),
    * setProp (metadata-only v3 — files identical), merge (fires at
    * v4). The 'ckpt' rows pin the protocol arithmetic (exists flag ×
    * covered-version count per step); 'prop' rows pin each version's
    * property SET as strings; reads hash v1 (time travel across
    * metadata commits) and v4. */
  def q184(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_props_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    val half = src.filter(col("o_orderkey") % 2 === 0)
    val rest = src.filter(col("o_orderkey") % 2 =!= 0)
    def ckpt(): (Long, Long) = {
      val cov = Snapshots.checkpointCoverage(spark, out)
      (if (cov.isDefined) 1L else 0L, cov.getOrElse(0L))
    }
    val v1 = Snapshots.publish(half, out, "bucket", Seq("o_orderkey"),
      meta = Seq("prop:ckptevery=2", "prop:owner=pipeline-a"))
    val c1 = ckpt()
    val v2 = Snapshots.append(rest, out, "bucket", Seq("o_orderkey"))
    val c2 = ckpt()
    val v3 = Snapshots.setProp(spark, out, "tier", Some("gold"))
    val c3 = ckpt()
    val v4 = Snapshots.merge(
      src.filter(col("o_orderkey") % 500 === 7)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0)),
      out, "bucket", Seq("o_orderkey"), Seq("o_orderkey"))
    val c4 = ckpt()
    def propsOf(v: Long): String =
      Snapshots.propsAt(spark, out, v).toSeq.sorted
        .map { case (k, vv) => s"$k=$vv" }.mkString(",")
    def fold(df: DataFrame): (Long, Long, Long) = {
      val r = df.withColumn("h", ordersRowHash)
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (r11, r12, r13) = fold(Snapshots.readAt(spark, out, v1))
    val (r41, r42, r43) = fold(Snapshots.readAt(spark, out, v4))
    // v3 was metadata-only: same files as v2, byte for byte
    val metaOnly =
      if (Snapshots.files(spark, out, v3) ==
          Snapshots.files(spark, out, v2)) 1L else 0L
    Seq(
      ("ckpt", "v0001", c1._1, c1._2, 0L),
      ("ckpt", "v0002", c2._1, c2._2, 0L),
      ("ckpt", "v0003", c3._1, c3._2, metaOnly),
      ("ckpt", "v0004", c4._1, c4._2, 0L),
      ("prop", "v0001_" + propsOf(v1), 1L, 1L, 1L),
      ("prop", "v0004_" + propsOf(v4), 1L, 1L, 1L),
      ("read", "v0001", r11, r12, r13),
      ("read", "v0004", r41, r42, r43))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** MANIFEST-DRIVEN JOIN PLANNING under the gate (the r10-backlog
    * "feed NDV + row counts into an automatic join-strategy chooser"
    * — [[graft.operators.JoinPlanner]] closing the statistics loop:
    * `#fsize` byte sizes + `#stat2` row counts + `#ndv` KMV sketches,
    * ALL read from two manifests with zero data opens, drive
    * broadcast-vs-salted-vs-shuffle): three table pairs exercise the
    * three regimes — orders⋈customer on custkey (customer fits the
    * 10 MiB threshold → BROADCAST, build right), orders⋈lineitem on
    * orderkey with the threshold forced to 0 (multiplicity ≈ 4 < 64 →
    * plain SHUFFLE), and a derived hot-key pair (key = custkey mod 50
    * → orders-side multiplicity 300 ≥ 64 → SALTED, build left, ×16).
    * The strategy/build/salt of each decision ride in the row LABELS
    * (constants in the oracle — xxhash64 and the manifests are
    * deterministic); each executed join folds to the same hash as the
    * oracle's plain SQL join — strategies move bytes, never rows. The
    * 'est' row pins the KMV join-cardinality estimate
    * ([[graft.operators.Ndv.intersectEstimate]] × multiplicities)
    * inside its band against the EXACT join count (the q64x envelope
    * discipline: the estimate is engine-native, the flag is the
    * surface). */
  def q185(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{JoinPlanner => JP, Snapshots}
    import spark.implicits._
    val base = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_jplan_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Snapshots.dropPath(spark, base)
    def pub(name: String, df: DataFrame): String = {
      val out = s"$base/$name"
      Snapshots.publish(df, out, "bucket", Seq("k"),
        statsCols = Seq("k"), ndvCols = Seq("k"))
      out
    }
    // the six fixture publishes write DIFFERENT tables from different
    // projections — independent jobs, run CONCURRENTLY (guide §2.6) so
    // each write's tail back-fills the executors instead of
    // serializing six small commits
    val Seq(ordC, cust, ordK, line, hotO, hotC) = Par.all(spark, "q185.publish")(Seq(
      () => pub("ord_c", Tables.orders(spark, dir).select(
        col("o_custkey").as("k"), col("o_orderkey"), col("o_totalprice"),
        (col("o_custkey") % 16).as("bucket"))),
      () => pub("cust", Tables.customer(spark, dir).select(
        col("c_custkey").as("k"), col("c_acctbal"),
        (col("c_custkey") % 16).as("bucket"))),
      () => pub("ord_k", Tables.orders(spark, dir).select(
        col("o_orderkey").as("k"), col("o_totalprice"),
        expr("o_orderkey div 8192").as("bucket"))),
      () => pub("line", Tables.lineitem(spark, dir).select(
        col("l_orderkey").as("k"), col("l_linenumber"),
        expr("l_orderkey div 8192").as("bucket"))),
      () => pub("hot_o", Tables.orders(spark, dir).select(
        (col("o_custkey") % 50).as("k"), col("o_orderkey"),
        (col("o_custkey") % 8).as("bucket"))),
      // one dim row per hot key: the join output stays linear in the
      // fact (the salted REGIME needs the fact side's multiplicity,
      // not a quadratic blowup — bench runs this at sf0.1)
      () => pub("hot_c", Tables.customer(spark, dir)
        .filter(col("c_custkey") <= 50).select(
          (col("c_custkey") % 50).as("k"), col("c_custkey"),
          (col("c_custkey") % 8).as("bucket")))))
    val dBc = JP.plan(spark, ordC, cust, "k")
    val dSh = JP.plan(spark, ordK, line, "k", broadcastBytes = 0)
    val dSa = JP.plan(spark, hotO, hotC, "k", broadcastBytes = 0)
    def side(dirS: String, d: Long): DataFrame =
      Snapshots.readAt(spark, dirS, d).drop("bucket")
    def fold(df: DataFrame, canon: Column): (Long, Long, Long) = {
      val r = df
        .withColumn("h", conv(substring(md5(canon), 1, 15), 16, 10).cast("long"))
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // the three executed joins are independent — overlap them (§2.6)
    val Seq((b1, b2, b3), (s1, s2, s3), (a1, a2, a3)) =
      Par.all(spark, "q185.join")(Seq(
        () => fold(
          JP.execute(side(ordC, dBc.left.version),
            side(cust, dBc.right.version), "k", dBc),
          concat_ws("|", col("k"), col("o_orderkey"),
            (dec2(col("o_totalprice")) * 100).cast("long"),
            (dec2(col("c_acctbal")) * 100).cast("long"))),
        () => fold(
          JP.execute(side(ordK, dSh.left.version),
            side(line, dSh.right.version), "k", dSh),
          concat_ws("|", col("k"), col("l_linenumber"),
            (dec2(col("o_totalprice")) * 100).cast("long"))),
        () => fold(
          JP.execute(side(hotO, dSa.left.version),
            side(hotC, dSa.right.version), "k", dSa),
          concat_ws("|", col("k"), col("o_orderkey"), col("c_custkey")))))
    // the KMV cardinality estimate vs the exact join count, as a band
    // flag (deterministic: fixed hashes, fixed manifests)
    val est = JP.estimateJoinRows(spark, ordK, line, "k").get
    val exact = s1.toDouble
    def lbl(d: JP.Decision) = s"${d.strategy}_${d.buildSide}_x${d.saltFactor}"
    // r11: Spark's OWN optimizer now sees the manifest statistics — a
    // plain user join (NO JoinPlanner call) broadcasts under the
    // default session threshold because the snapshot relation reports
    // the manifest's #fsize sum as its size, the read goes through the
    // manifest FileIndex (zero per-query listing), and a plain range
    // filter DATA-SKIPS at planning time off the recorded stats
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scanOf(df: DataFrame): FileSourceScanExec = {
      // execute the plan for its metrics WITHOUT collecting the rows
      // to the driver (guide §5: the driver does no data work — an
      // RDD count populates numFiles exactly like the collect did)
      df.queryExecution.executedPlan.execute().count()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case sc: FileSourceScanExec => sc
      }.get
    }
    val plainJoin = Snapshots.read(spark, ordC).drop("bucket")
      .join(Snapshots.read(spark, cust).drop("bucket", "c_acctbal"), "k")
    val bhj = plainJoin.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin")
    val factScan = scanOf(Snapshots.read(spark, ordC))
    val viaManifest = factScan.relation.location
      .isInstanceOf[org.apache.spark.sql.graftext.ManifestFileIndex]
    val sizeOk = factScan.relation.location.sizeInBytes ==
      Snapshots.sizeAt(spark, ordC, Snapshots.latest(spark, ordC).get)
    val statsFlag = if (bhj && viaManifest && sizeOk) 1L else 0L
    val skipDf = Snapshots.read(spark, ordK).filter(col("k") < 8192L)
    val skipScan = scanOf(skipDf)
    val survived = skipScan.metrics("numFiles").value
    val totalFiles = Snapshots.files(spark, ordK,
      Snapshots.latest(spark, ordK).get).size.toLong
    val (k1, k2, k3) = fold(skipDf.drop("bucket"),
      concat_ws("|", col("k"), (dec2(col("o_totalprice")) * 100).cast("long")))
    Seq(
      ("plan", "bc_" + lbl(dBc), 1L, 1L, 1L),
      ("plan", "sh_" + lbl(dSh), 1L, 1L, 1L),
      ("plan", "sa_" + lbl(dSa), 1L, 1L, 1L),
      ("plan", "stats_bhj", statsFlag, 1L, 1L),
      ("skip", "files", survived, totalFiles,
        if (survived < totalFiles) 1L else 0L),
      ("skip", "fold", k1, k2, k3),
      ("join", "bc", b1, b2, b3),
      ("join", "sh", s1, s2, s3),
      ("join", "sa", a1, a2, a3),
      ("est", "orders_lineitem",
        if (math.abs(est / exact - 1.0) <= 0.30) 1L else 0L, s1, 1L))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** THE CLUSTERED CDC LOOP under the gate — q176's full replication
    * loop re-run with BOTH r10.5 streaming pieces composed: the
    * change feed paced by BYTES ([[graft.streaming.ChangeFeed]]'s
    * `maxBytesPerBatch=1` — every step's churn exceeds one byte, so
    * the soft cap degrades to one committed version per microbatch,
    * costed from the manifests' `#fsize` sums alone) drains a source
    * table's three commits (publish, a two-sided applyChanges, an
    * append of shifted keys) through net() into an EXACTLY-ONCE
    * Z-ORDER replica ([[graft.operators.ZOrderTable.mergeBatch]] —
    * the ledger over the clustered layout, bootstrap stamped). The
    * replica's fold equals the source head's equals the oracle's
    * recomputation from raw orders; a replay of the LAST batch is
    * absorbed (no new version); ledger/version arithmetic pinned. */
  def q187(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Snapshots, ZOrderTable => Z}
    import graft.streaming.ChangeFeed
    import spark.implicits._
    val base = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_zcdc_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Snapshots.dropPath(spark, base)
    val srcT = s"$base/src"
    val repT = s"$base/rep"
    val src = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      (col("o_orderkey") * 7919 % 65536).as("x"),
      (col("o_custkey") * 104729 % 65536).as("y"))
      .withColumn("bucket", expr("o_orderkey div 2048"))
    Snapshots.publish(src, srcT, "bucket", Seq("o_orderkey"))
    Snapshots.applyChanges(
      src.filter(col("o_orderkey") % 500 === 7)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0)),
      src.filter(col("o_orderkey") % 10 === 3)
        .select("o_orderkey", "bucket"),
      srcT, "bucket", Seq("o_orderkey"), Seq("o_orderkey"))
    Snapshots.append(Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 10 === 1).select(
        (col("o_orderkey") + lit(2147483648L)).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"),
        ((col("o_orderkey") + lit(2147483648L)) * 7919 % 65536).as("x"),
        (col("o_custkey") * 104729 % 65536).as("y"))
      .withColumn("bucket", expr("o_orderkey div 2048")),
      srcT, "bucket", Seq("o_orderkey"))
    val layout = Z.ZLayout("z", 26, Seq("x", "y"))
    val keyCols = Seq("o_orderkey", "x", "y")
    val apply: (DataFrame, Long) => Unit = (batch, id) => {
      // one materialization of the batch per microbatch: the empty
      // probe, the net() and the sink's own actions all read the
      // cache instead of replaying the changed-file read (guide §5)
      val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (!b.isEmpty) { // a no-data trigger has nothing to ledger
          val net = ChangeFeed.net(b).drop("bucket", "_version")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val ins = net.filter(col("_change") === "insert").drop("_change")
            val del = net.filter(col("_change") === "delete").drop("_change")
              .select((keyCols ++ Seq("o_custkey", "o_totalprice")).map(col): _*)
            Z.mergeBatch(id, ins, repT, keyCols, layout, deletes = Some(del))
          } finally net.unpersist(false)
        }
      } finally b.unpersist(false)
      ()
    }
    val q = ChangeFeed.readStream(spark, srcT, maxBytesPerBatch = 1L)
      .writeStream.foreachBatch(apply).start()
    try q.processAllAvailable() finally q.stop()
    val vRep = Snapshots.latest(spark, repT).get
    // a replay of the LAST batch is absorbed: no new replica version
    Z.mergeBatch(2L, Z.readAt(spark, repT, vRep).limit(1), repT, keyCols,
      layout)
    val replayNoop = if (Snapshots.latest(spark, repT).get == vRep) 1L else 0L
    def fold(df: DataFrame): (Long, Long, Long) = {
      val canon = concat_ws("|", col("o_orderkey"), col("o_custkey"),
        col("x"), col("y"), (dec2(col("o_totalprice")) * 100).cast("long"))
      val r = df
        .withColumn("h", conv(substring(md5(canon), 1, 15), 16, 10).cast("long"))
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (r1, r2, r3) = fold(Z.readAt(spark, repT, vRep))
    val (s1, s2, s3) = fold(Snapshots.read(spark, srcT)
      .select("o_orderkey", "o_custkey", "o_totalprice", "x", "y"))
    Seq(
      ("read", "replica", r1, r2, r3),
      ("read", "source", s1, s2, s3),
      ("state", "ledger",
        Snapshots.lastAppliedBatch(spark, repT).getOrElse(-1L),
        Snapshots.versions(spark, repT).size.toLong, replayNoop))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** MERGE-ON-READ DELETE under the gate (deletion vectors — the
    * r10 verdict's missing #2, done as the public Delta-DV / Iceberg
    * position-delete shape: `#dv:<b64>:<rel>` manifest lines carry
    * each file's dead ROW POSITIONS, [[graft.operators.Dv]] codec):
    * orders publish (v1, 8 key-ranged buckets), then TWO scattered
    * GDPR-style erasures — the mod-97 keys (v2) and the mod-101
    * survivors (v3) — each a METADATA-ONLY commit: the gate pins
    * `files(v3) == files(v2) == files(v1)` (ZERO data files written
    * where copy-on-write [[graft.operators.Snapshots.delete]] would
    * have rewritten every bucket), while every read equals the plain
    * filter, time travel still reads pre-delete state, and
    * `rowCountAt` subtracts the recorded dead positions with no scan.
    * [[graft.operators.Snapshots.diff]] and the LIVE change feed emit
    * the newly-dead rows of each step as deletes — changes the file
    * sets alone cannot see (a DV commit shares every file), already-
    * dead rows never re-emit. [[graft.operators.Snapshots.compact]]
    * then targets the DV-bearing files (fragmented or not),
    * MATERIALIZES the vectors (zero `#dv` lines after), and vacuum
    * reclaims the pre-delete bytes while the head folds identically.
    * Sections: per-version reads, the step-2 diff deletes, per-step
    * feed net deletes, manifest count arithmetic, the dv/files state
    * row, the vacuum row, and the SIDECAR section — a single-file
    * table whose every-third-key erasure exceeds the inline budget,
    * landing in one immutable `#dvf` varint file with the data file
    * list untouched and the row count still manifest-only. */
  def q188(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import graft.streaming.ChangeFeed
    import spark.implicits._
    val W = 2048L
    val base = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_dvgate_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Snapshots.dropPath(spark, base)
    val srcT = s"$base/src"
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    val v1 = Snapshots.publish(src, srcT, "bucket", Seq("o_orderkey"))
    val f1 = Snapshots.files(spark, srcT, v1)
    val v2 = Snapshots.deleteVectored(
      src.filter(col("o_orderkey") % 97 === 0).select("o_orderkey", "bucket"),
      srcT, "bucket", Seq("o_orderkey"))
    val v3 = Snapshots.deleteVectored(
      src.filter(col("o_orderkey") % 101 === 0 &&
        col("o_orderkey") % 97 =!= 0).select("o_orderkey", "bucket"),
      srcT, "bucket", Seq("o_orderkey"))
    val filesSame =
      if (Snapshots.files(spark, srcT, v2) == f1 &&
        Snapshots.files(spark, srcT, v3) == f1) 1L else 0L
    val dvFiles3 = Snapshots.deletionVectorsAt(spark, srcT, v3).size.toLong
    def fold(df: DataFrame): (Long, Long, Long) = {
      val r = df.withColumn("h", ordersRowHash)
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // four independent version-pinned folds, run CONCURRENTLY (guide
    // §2.6, the q189 shape): the three per-version reads and the
    // step-2 diff's newly-dead rows
    val folds = Par.all(spark, "q188.fold")(
      (1L to 3L).map(v => () => fold(Snapshots.readAt(spark, srcT, v))) :+
        (() => fold(Snapshots.diff(spark, srcT, v2, v3)
          .filter(col("_change") === "delete").drop("_change"))))
    val (readFolds, diffFold) = (folds.init, folds.last)
    val reads = (1L to 3L).map { v =>
      val (c, x, s) = readFolds((v - 1).toInt)
      ("read", f"v$v%04d", c, x, s)
    }
    val (d1, d2, d3) = diffFold
    // LIVE feed, one version per microbatch: per-step net deletes
    val feedFolds = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    val q = ChangeFeed.readStream(spark, srcT, maxVersionsPerBatch = 1L)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // one materialization of the batch: the version fold and each
        // per-version net fold read the cache instead of replaying
        // the changed-file read per action (guide §5)
        val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          b.select(col(ChangeFeed.VersionCol)).distinct()
            .collect().map(_.getLong(0)).foreach { v =>
              val dels = ChangeFeed.net(
                b.filter(col(ChangeFeed.VersionCol) === v)
                  .drop(ChangeFeed.VersionCol))
                .filter(col(ChangeFeed.ChangeCol) === "delete")
                .drop(ChangeFeed.ChangeCol)
              feedFolds(v) = fold(dels)
            }
        } finally b.unpersist(false)
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    // head == v3 (the feed commits nothing to the source): restate
    // the v3 fold instead of a fourth full-table job (guide §1.2)
    val (manifestCount3, head3) =
      (Snapshots.rowCountAt(spark, srcT, v3).getOrElse(-1L), readFolds(2))
    // compact MATERIALIZES every vector; vacuum reclaims; head holds
    val v4 = Snapshots.compact(spark, srcT, "bucket", Seq("o_orderkey"))
    val dvAfter = Snapshots.deletionVectorsAt(spark, srcT, v4).size.toLong
    val (dropped, deleted, _) = Snapshots.vacuum(spark, srcT, v4, retainMs = 0L)
    val headAfter = fold(Snapshots.read(spark, srcT))
    val (f2c, f2x, f2s) = feedFolds.getOrElse(v2, (-1L, -1L, -1L))
    val (f3c, f3x, f3s) = feedFolds.getOrElse(v3, (-1L, -1L, -1L))
    // SIDECAR path under the gate: a single-file table whose erasure
    // (every third key) exceeds the inline budget — the vector lands
    // in one immutable varint file (#dvf), the data file list is
    // still untouched, and the manifest row count stays read-free
    val scT = s"$base/sc"
    val sv1 = Snapshots.publish(src.withColumn("bucket", lit(0L)), scT,
      "bucket", Seq("o_orderkey"))
    val sv2 = Snapshots.deleteVectored(
      src.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), lit(0L).as("bucket")),
      scT, "bucket", Seq("o_orderkey"))
    val scFilesSame =
      if (Snapshots.files(spark, scT, sv2) == Snapshots.files(spark, scT, sv1))
        1L else 0L
    val sidecarsOnDisk = Option(new java.io.File(s"$scT/dv").listFiles())
      .map(_.count(_.getName.endsWith(".dvs")).toLong).getOrElse(0L)
    val (sc1, sc2, sc3) = fold(Snapshots.read(spark, scT))
    val deadCount = Snapshots.deletionVectorsAt(spark, scT, sv2)
      .valuesIterator.map(_.length.toLong).sum
    val scCountOk =
      if (Snapshots.rowCountAt(spark, scT, sv2).contains(sc1)) 1L else 0L
    (reads ++ Seq(
      ("sidecar", "fold", sc1, sc2, sc3),
      ("sidecar", "state", scFilesSame, deadCount,
        if (sidecarsOnDisk >= 1 && scCountOk == 1L) 1L else 0L),
      ("deleted", "step2", d1, d2, d3),
      ("feed", "v0002", f2c, f2x, f2s),
      ("feed", "v0003", f3c, f3x, f3s),
      ("count", "manifest", manifestCount3,
        Snapshots.rowCountAt(spark, srcT, v4).getOrElse(-1L),
        if (manifestCount3 == head3._1) 1L else 0L),
      ("state", "dv", filesSame, dvFiles3, dvAfter),
      ("vacuum", "reclaim", dropped,
        if (deleted > 0) 1L else 0L,
        if (headAfter == head3) 1L else 0L)))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** QUANTILE-MAPPED Z-ORDER under the gate (the r10 verdict's
    * missing #3 — real tables cluster on timestamp/double columns,
    * not pre-scaled 16-bit grids; Delta's OPTIMIZE ZORDER BY
    * ergonomics): orders cluster DIRECTLY on the raw
    * `o_orderdate` (TIMESTAMP) × `o_totalprice` (DOUBLE) via
    * [[graft.operators.ZOrderTable.publishMapped]] — per-dimension
    * quantile cuts derived once (the exactQuantiles histogram
    * discipline), carried as `zmap.<dim>` table properties so the
    * APPEND re-derives identical codes from the manifest, grid codes
    * materialized, typed stats auto-declared on the RAW dims. The
    * box query runs on RAW predicates (a 2-year × mid-price window)
    * and the gate pins: box == the plain filter before AND after the
    * append, the append's out-of-range dates (+3653 days) CLAMP to
    * the edge cell without leaking into the box, pruning reads
    * strictly fewer files than the table holds, and the full reads
    * fold to the oracle's recomputation. */
  def q189(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Snapshots, ZOrderTable => Z}
    import spark.implicits._
    val base = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_zmap_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Snapshots.dropPath(spark, base)
    val srcT = s"$base/src"
    // ONE materialization of the input across its four consumers (two
    // per-dimension cut histograms, the publish write, the append's
    // filtered input — guide §5): without it each job replays the
    // parquet read. Intra-query, released in the finally below.
    val src = Tables.orders(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    Z.publishMapped(src, srcT, Seq("o_orderdate", "o_totalprice"),
      shift = 26, buckets = 256)
    val v1 = Snapshots.latest(spark, srcT).get
    // the box: [1998-01-01, 2000-01-01) × [50000, 150000) — raw preds
    // (this generator's order dates span 1995..2001)
    val tsLo = 883612800000000L
    val tsHi = 946684800000000L
    val preds = Seq(("o_orderdate", tsLo: Any, tsHi: Any),
      ("o_totalprice", 50000.0: Any, 150000.0: Any))
    def fold(df: DataFrame, extra: Column*): org.apache.spark.sql.Row =
      df.withColumn("h", ordersRowHash)
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)) +:
          coalesce(sum(col("h") % 1000000000000L), lit(0L)) +: extra: _*)
        .collect()(0)
    val survived = Snapshots.prunedFilesBox(spark, srcT, v1, preds).size.toLong
    val total = Snapshots.files(spark, srcT, v1).size.toLong
    // append shifted keys with +3653-day dates — OUT of every stored
    // cut: they clamp to the edge cell and never enter the box
    Z.appendMapped(src.filter(col("o_orderkey") % 10 === 1)
      .withColumn("o_orderkey", col("o_orderkey") + 2147483648L)
      .withColumn("o_orderdate",
        col("o_orderdate") + expr("INTERVAL 3653 DAYS")), srcT)
    val v2 = Snapshots.latest(spark, srcT).get
    // All four verification folds are VERSION-PINNED reads (v1's box
    // and full read are unchanged by the append — manifests are
    // immutable), so they run CONCURRENTLY through Par
    // (guide §2.6): four sub-second jobs back to back serialize idle
    // executors; overlapped, the wall is the slowest fold. The v2
    // full-read fold carries the clamp check in the SAME pass (guide
    // §1.2 — it was a separate full-table job; the grid column rides
    // along in the scan, the fold's hash only references the orders
    // columns so values are unchanged).
    val Seq(b1f, b2f, r1f, r2f) = Par.all(spark, "q189.fold")(Seq(
      () => fold(Z.boxBy(spark, srcT, v1, preds)),
      () => fold(Z.boxBy(spark, srcT, v2, preds)),
      () => fold(Z.readAt(spark, srcT, v1)),
      () => fold(Snapshots.readAt(spark, srcT, v2),
        sort_array(collect_set(when(col("o_orderkey") > 2147483648L,
          col("__gzm_o_orderdate")))))))
    def m(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (b1c, b1x, b1s) = m(b1f)
    val (b2c, b2x, b2s) = m(b2f)
    val (r1c, r1x, r1s) = m(r1f)
    val (r2c, r2x, r2s) = m(r2f)
    val clampCodes = r2f.getSeq[Long](3)
    val props = Snapshots.propsAt(spark, srcT, v2)
    Seq(
      ("box", "v0001", b1c, b1x, b1s),
      ("box", "v0002", b2c, b2x, b2s),
      ("read", "v0001", r1c, r1x, r1s),
      ("read", "v0002", r2c, r2x, r2s),
      ("prune", "flags",
        if (survived < total) 1L else 0L,
        if (survived >= 1) 1L else 0L, 1L),
      ("state", "zmap",
        props.keys.count(_.startsWith("zmap.")).toLong,
        if (clampCodes == Seq(65280L)) 1L else 0L, 1L))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
    } finally src.unpersist(false)
  }

  /** One extensions-bearing session per warehouse for [[q190]] —
    * built over the ambient SparkContext with the default/active
    * session swapped out and restored (`spark.sql.extensions` is a
    * static conf the gate session predates; `withExtensions` is the
    * over-a-live-context path). A cached session bound to a STOPPED
    * context rebuilds — the cache must not outlive a context restart
    * the way `builder().getOrCreate()` never would. */
  private val namedExtSessions =
    new java.util.concurrent.ConcurrentHashMap[String, SparkSession]()

  private def namedExtSession(wh: String): SparkSession =
    namedExtSessions.synchronized {
      val cached = namedExtSessions.get(wh)
      if (cached != null && !cached.sparkContext.isStopped) cached
      else {
        val prevDefault = SparkSession.getDefaultSession
        val prevActive = SparkSession.getActiveSession
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        val built =
          try SparkSession.builder()
            .withExtensions(new graft.GraftExtensions)
            .config("spark.sql.catalog.gq190", "graft.sources.GraftCatalog")
            .config("spark.sql.catalog.gq190.warehouse", wh)
            .getOrCreate()
          finally {
            prevDefault.foreach(SparkSession.setDefaultSession)
            prevActive.foreach(SparkSession.setActiveSession)
          }
        namedExtSessions.put(wh, built)
        built
      }
    }

  /** The NAMED-TABLE (DSv2) surface under the gate — the r11 verdict's
    * #1 ask: tables get NAMES. A catalog-backed warehouse
    * ([[graft.sources.GraftCatalog]] over a tmp root) is exercised
    * end-to-end through SQL on an extensions-bearing session built
    * over the SAME SparkContext (`spark.sql.extensions` is a STATIC
    * conf the gate session predates; `tools.ExtCheck` covers the
    * fresh-JVM conf deployment): a Scala-published snapshot table
    * reads by NAME (`SELECT ... FROM cat.db.src` — through
    * [[graft.sources.GraftRelationRule]] the plan is the SAME
    * manifest-statistics relation every Scala read builds), `CREATE
    * TABLE ... USING graft` commits an empty schema-bearing v1,
    * `INSERT INTO ... SELECT FROM <named>` appends through the
    * staging path with TBLPROPERTIES carried, `VERSION AS OF` time
    * travel resolves through the catalog, `format("graft")`
    * short-name loads (with a `versionAsOf` option) match, and a
    * named fact⋈dim join BROADCASTS off the manifest byte sum at the
    * default threshold but STOPS broadcasting when the threshold
    * drops below the dim's recorded size — the planner is reading
    * the manifest's statistics, not guessing. All folds restated
    * closed-form from raw orders by the oracle. */
  def q190(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val wh = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_named_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Seq("db/src", "db/dim", "db/t").foreach(t =>
      Snapshots.dropPath(spark, s"$wh/$t"))
    val src = Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey").as("c"),
      (col("o_orderkey") % 8).as("b"))
    Snapshots.publish(src, s"$wh/db/src", "b", Seq("k"))
    Snapshots.publish(
      spark.range(0, 200, 1, 2).select((col("id") * 7).as("k"),
        format_string("d%04d", col("id")).as("name"),
        (col("id") % 4).as("b")),
      s"$wh/db/dim", "b", Seq("k"))
    // the extensions-bearing session over the shared context —
    // CACHED per warehouse: a bench rerun must not accumulate
    // sessions (heap pressure lands on unrelated queries)
    val ext = namedExtSession(wh)
    def fold3(sql: String): (Long, Long, Long) = {
      val r = ext.sql(sql).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    def folds(rel: String) = fold3("SELECT count(*), " +
      "coalesce(sum(k % 1000000000000), 0), " +
      s"coalesce(sum(c % 1000000000000), 0) FROM $rel")
    val (sc0, sk0, sc1) = folds("gq190.db.src")
    ext.sql("CREATE TABLE gq190.db.t (k BIGINT, c BIGINT, b BIGINT) " +
      "USING graft TBLPROPERTIES(" +
      "'maintain.bucket'='b', 'maintain.sort'='k')")
    val emptyRows = ext.sql("SELECT count(*) FROM gq190.db.t")
      .collect()(0).getLong(0)
    ext.sql("INSERT INTO gq190.db.t " +
      "SELECT k, c, b FROM gq190.db.src WHERE k % 7 = 0")
    ext.sql("INSERT INTO gq190.db.t VALUES (2147483648, -1, 0)")
    val (tc, tk, tcc) = folds("gq190.db.t")
    val (v2c, v2k, _) = folds("gq190.db.t VERSION AS OF 2")
    // format("graft") by SHORT NAME + versionAsOf option
    val fmtHead = ext.read.format("graft").load(s"$wh/db/t").count()
    val fmtV2 = ext.read.format("graft").option("versionAsOf", "2")
      .load(s"$wh/db/t").count()
    // broadcast decisions read the MANIFEST's statistics
    val joinSql = "SELECT count(*) FROM gq190.db.src s " +
      "JOIN gq190.db.dim d ON s.k = d.k"
    val bhjDefault = ext.sql(joinSql)
    bhjDefault.collect()
    val bhjOn =
      bhjDefault.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin")
    ext.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    val bhjLow =
      try {
        val p = ext.sql(joinSql)
        p.collect()
        p.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
      } finally ext.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // the inserts went through the staging path: props carried
    val carried = Snapshots.propsAt(ext, s"$wh/db/t",
      Snapshots.latest(ext, s"$wh/db/t").get)
      .get("maintain.bucket").contains("b")
    val versions = Snapshots.versions(ext, s"$wh/db/t").size.toLong
    // SQL DELETE FROM: a merge-on-read erasure — zero files written
    // (same file list), folds subtract exactly the killed keys
    val filesPreDel = Snapshots.files(ext, s"$wh/db/t",
      Snapshots.latest(ext, s"$wh/db/t").get)
    ext.sql("DELETE FROM gq190.db.t WHERE k IN (14, 70, 700)")
    val filesPostDel = Snapshots.files(ext, s"$wh/db/t",
      Snapshots.latest(ext, s"$wh/db/t").get)
    val (dc, dk, dcc) = folds("gq190.db.t")
    Seq(
      ("create", "t", emptyRows, if (versions == 3L) 1L else 0L, 1L),
      ("delete", "where", dc, dk,
        if (filesPostDel == filesPreDel) dcc else -1L),
      ("format", "load",
        if (fmtHead == tc) 1L else 0L,
        if (fmtV2 == v2c) 1L else 0L, 1L),
      ("insert", "head", tc, tk, tcc),
      ("plan", "bhj",
        if (bhjOn) 1L else 0L,
        if (bhjLow) 1L else 0L,
        if (carried) 1L else 0L),
      ("read", "src", sc0, sk0, sc1),
      ("travel", "v0002", v2c, v2k, 1L))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** SQL `MERGE INTO` under the gate ([[graft.sources.GraftMergeRule]]
    * → [[graft.operators.MergeInto]] — the r12 verdict's #1 ask: the
    * CDC apply step for SQL users). Exercised on the shared
    * extensions session in both execution shapes:
    *
    *  - the GENERAL copy-on-write shape on a flat table — conditional
    *    matched DELETE, matched UPDATE, NOT MATCHED INSERT and a
    *    NOT-MATCHED-BY-SOURCE DELETE in ONE statement, each firing by
    *    first-match CASE semantics; the oracle restates the merged
    *    state closed-form from raw orders (orderkeys are unique, so
    *    the cardinality rule is inert here and tested by refusal
    *    below);
    *  - the UPSERT fast path on a HASH-BUCKETED table — equality `ON`
    *    + unconditional `UPDATE SET *` + `INSERT *` dispatches to
    *    [[graft.operators.HashBucketedTable.merge]] (the pruned
    *    layout rewrite), folds restated from distinct custkeys;
    *  - time travel across the merge (the pre-merge version still
    *    reads), the SQL cardinality refusal (two source rows matching
    *    one target row), and the clustered general-shape refusal
    *    (rewritten files would lose their epochs) — all as flags. */
  def q191(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{HashBucketedTable, NamedTables, Snapshots}
    import spark.implicits._
    val wh = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_merge_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Seq("db/msrc", "db/m", "db/h").foreach(t =>
      Snapshots.dropPath(spark, s"$wh/$t"))
    val orders = Tables.orders(spark, dir)
    Snapshots.publish(
      orders.select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
        (col("o_orderkey") % 8).as("b")),
      s"$wh/db/msrc", "b", Seq("k"))
    val ext = namedExtSession(wh)
    ext.sql("CREATE NAMESPACE IF NOT EXISTS gq190.db")
    ext.sql("CREATE TABLE IF NOT EXISTS gq190.db.m " +
      "(k BIGINT, c BIGINT, b BIGINT) USING graft TBLPROPERTIES(" +
      "'maintain.bucket'='b', 'maintain.sort'='k')")
    ext.sql("INSERT INTO gq190.db.m " +
      "SELECT k, c, b FROM gq190.db.msrc WHERE k % 2 = 0")
    val vPre = Snapshots.latest(ext, s"$wh/db/m").get
    // the GENERAL copy-on-write shape: all four action families fire
    // in ONE statement (conditional delete wins over the update by
    // first-match order; inserts are the odd multiples of 3; the
    // NOT-MATCHED-BY-SOURCE delete prunes unmatched target rows)
    ext.sql("""MERGE INTO gq190.db.m AS t
      USING (SELECT k, c + 77 AS c, b FROM gq190.db.msrc
             WHERE k % 3 = 0) AS s
      ON t.k = s.k
      WHEN MATCHED AND t.k % 5 = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.k % 7 = 0 THEN DELETE""")
    def fold3(sql: String): (Long, Long, Long) = {
      val r = ext.sql(sql).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (mc, mk, mcc) = fold3("SELECT count(*), " +
      "coalesce(sum(k % 1000000000000), 0), " +
      "coalesce(sum(c % 1000000000000), 0) FROM gq190.db.m")
    val (pc, pk, _) = fold3("SELECT count(*), " +
      "coalesce(sum(k % 1000000000000), 0), 1L " +
      s"FROM gq190.db.m VERSION AS OF $vPre")
    // the UPSERT fast path on a HASH table: equality ON + SET * +
    // INSERT * dispatches to the layout's pruned merge — epochs stay
    HashBucketedTable.publish(
      orders.select(col("o_custkey")).distinct().select(
        concat(lit("u"), col("o_custkey").cast("string")).as("key"),
        col("o_custkey").as("n")),
      s"$wh/db/h", "key", 8)
    ext.sql("""MERGE INTO gq190.db.h AS t
      USING (SELECT DISTINCT concat('u', CAST(c AS STRING)) AS key,
               c + 5 AS n FROM gq190.db.msrc WHERE c % 10 = 0
             UNION ALL
             SELECT DISTINCT concat('w', CAST(c AS STRING)),
               c + 1000000 FROM gq190.db.msrc WHERE c % 100 = 0) AS s
      ON t.key = s.key
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val (hc, hn, _) = fold3("SELECT count(*), " +
      "coalesce(sum(n % 1000000000000), 0), 1L FROM gq190.db.h")
    val hv = Snapshots.latest(ext, s"$wh/db/h").get
    val layoutHeld =
      NamedTables.layoutAt(ext, s"$wh/db/h", hv) == "hash" && hv == 2L
    // refusals: SQL cardinality (two source rows match one target
    // row) and the general shape on a clustered layout
    val cardRefused = scala.util.Try(ext.sql(
      """MERGE INTO gq190.db.m AS t
      USING (SELECT 6L AS k, 0L AS c, 6L AS b
             UNION ALL SELECT 6L, 1L, 6L) AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")).isFailure
    val clusterRefused = scala.util.Try(ext.sql(
      """MERGE INTO gq190.db.h AS t
      USING (SELECT 'u1' AS key, 0L AS n) AS s
      ON t.key = s.key
      WHEN MATCHED AND s.n > t.n THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")).isFailure
    Seq(
      ("merge", "general", mc, mk, mcc),
      ("merge", "upsert", hc, hn, if (layoutHeld) 1L else 0L),
      ("plan", "refuse",
        if (cardRefused) 1L else 0L,
        if (clusterRefused) 1L else 0L, 1L),
      ("travel", "pre", pc, pk, 1L))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** SQL UPDATE + TIMESTAMP AS OF under the gate (the r13 DML-matrix
    * close-out beside q191's MERGE): commits land with an INJECTED
    * clock (1s create, 2s insert, 3s update — the
    * `spark.graft.testClockMicros` seam), then
    *
    *  - `UPDATE ... SET c = c + 1000 WHERE k % 9 = 4` rewrites
    *    through the joinless file-granular copy-on-write
    *    ([[graft.operators.MergeInto.update]]) — head folds restated
    *    closed-form from raw orders;
    *  - `TIMESTAMP AS OF timestamp_micros(2500000)` (between the
    *    insert and the update) resolves the PRE-update version
    *    through the catalog's loadTable(ident, micros) hook;
    *  - flags: exactly 3 versions after the update, a NO-MATCH update
    *    burns no version, and a before-first timestamp refuses. */
  def q192(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val wh = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_update_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Seq("db/usrc", "db/u").foreach(t => Snapshots.dropPath(spark, s"$wh/$t"))
    val orders = Tables.orders(spark, dir)
    Snapshots.publish(
      orders.select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
        (col("o_orderkey") % 8).as("b")),
      s"$wh/db/usrc", "b", Seq("k"))
    val ext = namedExtSession(wh)
    ext.sql("CREATE NAMESPACE IF NOT EXISTS gq190.db")
    try {
      ext.conf.set(Snapshots.TestClockKey, "1000000")
      ext.sql("CREATE TABLE IF NOT EXISTS gq190.db.u " +
        "(k BIGINT, c BIGINT, b BIGINT) USING graft TBLPROPERTIES(" +
        "'maintain.bucket'='b', 'maintain.sort'='k')")
      ext.conf.set(Snapshots.TestClockKey, "2000000")
      ext.sql("INSERT INTO gq190.db.u SELECT k, c, b FROM gq190.db.usrc")
      ext.conf.set(Snapshots.TestClockKey, "3000000")
      ext.sql("UPDATE gq190.db.u SET c = c + 1000 WHERE k % 9 = 4")
    } finally ext.conf.unset(Snapshots.TestClockKey)
    def fold3(sql: String): (Long, Long, Long) = {
      val r = ext.sql(sql).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (uc, uk, ucc) = fold3("SELECT count(*), " +
      "coalesce(sum(k % 1000000000000), 0), " +
      "coalesce(sum(c % 1000000000000), 0) FROM gq190.db.u")
    val (pc, pk, pcc) = fold3("SELECT count(*), " +
      "coalesce(sum(k % 1000000000000), 0), " +
      "coalesce(sum(c % 1000000000000), 0) FROM gq190.db.u " +
      "TIMESTAMP AS OF timestamp_micros(2500000)")
    val vNow = Snapshots.latest(ext, s"$wh/db/u").get
    ext.sql("UPDATE gq190.db.u SET c = 0 WHERE k < 0")
    val noBurn = Snapshots.latest(ext, s"$wh/db/u").get == vNow
    val beforeRefused = scala.util.Try(ext.sql(
      "SELECT count(*) FROM gq190.db.u " +
        "TIMESTAMP AS OF timestamp_micros(5)").collect()).isFailure
    Seq(
      ("plan", "flags",
        if (vNow == 3L) 1L else 0L,
        if (noBurn) 1L else 0L,
        if (beforeRefused) 1L else 0L),
      ("travel", "pre", pc, pk, pcc),
      ("update", "head", uc, uk, ucc))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** MAINTENANCE SQL under the gate (OPTIMIZE / VACUUM / DESCRIBE
    * HISTORY — [[graft.sources.GraftSqlParser]], the injected-parser
    * surface over the same engines q186 gates programmatically, in
    * the public Delta DeltaSqlParser shape): three SQL inserts
    * fragment every bucket (8 buckets × 3 files) under the injected
    * clock, `OPTIMIZE` folds them through the layout dispatch (flags
    * pin 'flat', ONE commit, 8 files after, and the commit-free
    * second run), `VACUUM` with NO retention REFUSES (the format's
    * one destructive op never guesses), `VACUUM ... RETAIN 2
    * VERSIONS` drops the three pre-compaction manifests, and
    * `DESCRIBE HISTORY` folds the surviving (version, ts) pairs
    * closed-form off the stamped clock. The read fold proves the
    * statements moved NOTHING (the oracle recomputes it from raw
    * orders). */
  def q193(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import graft.sources.GraftSqlParser
    import spark.implicits._
    val wh = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_maintsql_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Seq("db/xsrc", "db/x").foreach(t => Snapshots.dropPath(spark, s"$wh/$t"))
    val orders = Tables.orders(spark, dir)
    Snapshots.publish(
      orders.select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
        (col("o_orderkey") % 8).as("b")),
      s"$wh/db/xsrc", "b", Seq("k"))
    val ext = namedExtSession(wh)
    ext.sql("CREATE NAMESPACE IF NOT EXISTS gq190.db")
    val (opt, opt2) =
      try {
        ext.conf.set(Snapshots.TestClockKey, "1000000")
        ext.sql("CREATE TABLE IF NOT EXISTS gq190.db.x " +
          "(k BIGINT, c BIGINT, b BIGINT) USING graft TBLPROPERTIES(" +
          "'maintain.bucket'='b', 'maintain.sort'='k')")
        for (i <- 0 until 3) {
          ext.conf.set(Snapshots.TestClockKey, s"${(i + 2) * 1000000}")
          ext.sql("INSERT INTO gq190.db.x SELECT k, c, b " +
            s"FROM gq190.db.xsrc WHERE k % 3 = $i")
        }
        ext.conf.set(Snapshots.TestClockKey, "5000000")
        (ext.sql("OPTIMIZE gq190.db.x").collect()(0),
          ext.sql("OPTIMIZE gq190.db.x").collect()(0))
      } finally ext.conf.unset(Snapshots.TestClockKey)
    val xdir = s"$wh/db/x"
    val filesBefore = Snapshots.files(ext, xdir, 4L).size.toLong
    val filesAfter =
      Snapshots.files(ext, xdir, Snapshots.latest(ext, xdir).get).size.toLong
    val optFlag =
      if (opt.getString(0) == "flat" && opt.getBoolean(3) &&
        Snapshots.latest(ext, xdir).contains(5L)) 1L else 0L
    val noopFlag =
      if (!opt2.getBoolean(3) && Snapshots.latest(ext, xdir).contains(5L))
        1L else 0L
    val refuseFlag = if (scala.util.Try(
        ext.sql("VACUUM gq190.db.x").collect()).isFailure) 1L else 0L
    ext.conf.set(GraftSqlParser.VacuumRetainMsKey, "0")
    val vac =
      try ext.sql("VACUUM gq190.db.x RETAIN 2 VERSIONS").collect()(0)
      finally ext.conf.unset(GraftSqlParser.VacuumRetainMsKey)
    val hist = ext.sql("DESCRIBE HISTORY gq190.db.x").collect()
    def fold3(sql: String): (Long, Long, Long) = {
      val r = ext.sql(sql).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (xc, xk, xcc) = fold3("SELECT count(*), " +
      "coalesce(sum(k % 1000000000000), 0), " +
      "coalesce(sum(c % 1000000000000), 0) FROM gq190.db.x")
    Seq(
      ("history", "fold", hist.length.toLong,
        hist.map(_.getLong(0)).sum, hist.map(_.getLong(1)).sum / 1000000L),
      ("plan", "flags", optFlag, noopFlag, refuseFlag),
      ("read", "head", xc, xk, xcc),
      ("state", "files", filesBefore, filesAfter,
        Snapshots.versions(ext, xdir).size.toLong),
      ("state", "vacuum", vac.getLong(0), vac.getLong(1), vac.getLong(2)))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** ATOMIC CTAS + HISTORY-PRESERVING REPLACE under the gate
    * ([[graft.sources.GraftCatalog]] as a StagingTableCatalog — the
    * public Delta staged shape; Spark prefers the atomic exec over
    * the create-then-write fallback whenever the catalog implements
    * it): `CREATE TABLE ... AS SELECT` lands schema + TBLPROPERTIES +
    * data in ONE commit (flags pin exactly one version), `REPLACE
    * TABLE ... AS SELECT` lands ONE head-replacing version whose
    * predecessor stays `VERSION AS OF`-travelable (the fold reads the
    * PRE-replace content through the post-replace table), and a
    * failing RTAS aborts with versions AND content untouched. Head
    * and travel folds restated closed-form from raw orders. */
  def q194(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val wh = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_ctas_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Seq("db/csrc", "db/ct").foreach(t => Snapshots.dropPath(spark, s"$wh/$t"))
    val orders = Tables.orders(spark, dir)
    Snapshots.publish(
      orders.select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
        (col("o_orderkey") % 8).as("b")),
      s"$wh/db/csrc", "b", Seq("k"))
    val ext = namedExtSession(wh)
    ext.sql("CREATE NAMESPACE IF NOT EXISTS gq190.db")
    ext.sql("""CREATE TABLE gq190.db.ct USING graft TBLPROPERTIES(
      'maintain.bucket'='b', 'maintain.sort'='k')
      AS SELECT k, c, b FROM gq190.db.csrc""")
    val cdir = s"$wh/db/ct"
    val ctasOneVersion = Snapshots.versions(ext, cdir) == Seq(1L)
    ext.sql("""REPLACE TABLE gq190.db.ct USING graft TBLPROPERTIES(
      'maintain.bucket'='b', 'maintain.sort'='k')
      AS SELECT k, c + 1000000 AS c, b FROM gq190.db.csrc
      WHERE k % 2 = 0""")
    val replaceOneVersion = Snapshots.versions(ext, cdir) == Seq(1L, 2L)
    val abortFailed = scala.util.Try(ext.sql(
      """REPLACE TABLE gq190.db.ct USING graft TBLPROPERTIES(
      'maintain.bucket'='b', 'maintain.sort'='k')
      AS SELECT raise_error('boom') AS k, c, b FROM gq190.db.csrc""")
    ).isFailure
    val abortClean = Snapshots.versions(ext, cdir) == Seq(1L, 2L)
    def fold3(sql: String): (Long, Long, Long) = {
      val r = ext.sql(sql).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (hc, hk, hcc) = fold3("SELECT count(*), " +
      "coalesce(sum(k % 1000000000000), 0), " +
      "coalesce(sum(c % 1000000000000), 0) FROM gq190.db.ct")
    val (pc, pk, pcc) = fold3("SELECT count(*), " +
      "coalesce(sum(k % 1000000000000), 0), " +
      "coalesce(sum(c % 1000000000000), 0) FROM gq190.db.ct " +
      "VERSION AS OF 1")
    Seq(
      ("plan", "flags",
        if (ctasOneVersion) 1L else 0L,
        if (replaceOneVersion) 1L else 0L,
        if (abortFailed && abortClean) 1L else 0L),
      ("read", "head", hc, hk, hcc),
      ("travel", "pre", pc, pk, pcc))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** MERGE ... WITH SCHEMA EVOLUTION under the gate (the analyzer's
    * ResolveMergeIntoSchemaEvolution against the catalog's
    * AUTOMATIC_SCHEMA_EVOLUTION capability →
    * [[graft.operators.Snapshots.evolveSchema]], ONE metadata-only
    * commit before the merge's write): the source carries a column
    * the table lacks; after the merge the table schema has it,
    * matched rows carry its values, pre-evolution rows NULL-fill,
    * the evolution commit references the SAME files as its
    * predecessor, and `VERSION AS OF` the pre-merge version still
    * reads the THREE-column schema. Folds restated closed-form from
    * raw orders (nulls fold as zero through coalesce). */
  def q195(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val wh = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_sevo_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Seq("db/esrc", "db/ev").foreach(t => Snapshots.dropPath(spark, s"$wh/$t"))
    val orders = Tables.orders(spark, dir)
    Snapshots.publish(
      orders.select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
        (col("o_orderkey") % 8).as("b")),
      s"$wh/db/esrc", "b", Seq("k"))
    val ext = namedExtSession(wh)
    ext.sql("CREATE NAMESPACE IF NOT EXISTS gq190.db")
    ext.sql("""CREATE TABLE gq190.db.ev (k BIGINT, c BIGINT, b BIGINT)
      USING graft TBLPROPERTIES(
        'maintain.bucket'='b', 'maintain.sort'='k')""")
    ext.sql("INSERT INTO gq190.db.ev SELECT k, c, b FROM gq190.db.esrc " +
      "WHERE k % 2 = 0")
    val edir = s"$wh/db/ev"
    val vPre = Snapshots.latest(ext, edir).get
    val preFiles = Snapshots.files(ext, edir, vPre)
    ext.sql("""MERGE WITH SCHEMA EVOLUTION INTO gq190.db.ev AS t
      USING (SELECT k, c, b, k * 7 AS w FROM gq190.db.esrc
             WHERE k % 3 = 0) AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val schemaEvolved =
      ext.table("gq190.db.ev").columns.toSeq == Seq("k", "c", "b", "w")
    val metadataOnly = Snapshots.files(ext, edir, vPre + 1) == preFiles
    val travelPre = ext.sql(
      s"SELECT * FROM gq190.db.ev VERSION AS OF $vPre").columns.length == 3
    def fold3(sql: String): (Long, Long, Long) = {
      val r = ext.sql(sql).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (hc, hk, hw) = fold3("SELECT count(*), " +
      "coalesce(sum(k % 1000000000000), 0), " +
      "coalesce(sum(coalesce(w, 0) % 1000000000000), 0) FROM gq190.db.ev")
    Seq(
      ("plan", "flags",
        if (schemaEvolved) 1L else 0L,
        if (metadataOnly) 1L else 0L,
        if (travelPre) 1L else 0L),
      ("read", "head", hc, hk, hw))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** PROPS-DRIVEN MAINTENANCE under the gate
    * ([[graft.operators.Snapshots.maintain]] — the one entry point a
    * scheduler calls blindly per table; the table's own carried
    * `retainversions` property decides what may be deleted, so no
    * per-table configuration lives outside the table): orders land
    * in three loads (8 buckets × 3 files — every bucket fragmented),
    * then ONE maintain() compacts to 8 files, retention-vacuums to
    * the newest version (the three pre-compaction manifests drop and
    * their 24 fragments — now unreferenced — delete; retainMs=0 is
    * the gates' stated exclusive-access mode), and refreshes the
    * committedness checkpoint to cover exactly the surviving
    * version. All closed-form protocol arithmetic; the read fold
    * proves maintenance moved NOTHING (the oracle recomputes it from
    * raw orders). */
  def q186(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val W = 2048L // sf0.01 orderkeys are dense to 15000 -> 8 buckets
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_maint_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    Snapshots.publish(src.filter(col("o_orderkey") % 3 === 0), out,
      "bucket", Seq("o_orderkey"), meta = Seq("prop:retainversions=1"))
    Snapshots.append(src.filter(col("o_orderkey") % 3 === 1), out,
      "bucket", Seq("o_orderkey"))
    val v3 = Snapshots.append(src.filter(col("o_orderkey") % 3 === 2), out,
      "bucket", Seq("o_orderkey"))
    val before = Snapshots.files(spark, out, v3).size.toLong
    val r = Snapshots.maintain(spark, out, "bucket", Seq("o_orderkey"),
      retainMs = 0)
    val v4 = Snapshots.latest(spark, out).get
    def fold(df: DataFrame): (Long, Long, Long) = {
      val rr = df.withColumn("h", ordersRowHash)
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (rr.getLong(0), rr.getLong(1), rr.getLong(2))
    }
    val (f1, f2, f3) = fold(Snapshots.readAt(spark, out, v4))
    Seq(
      ("read", "v0004", f1, f2, f3),
      ("state", "files", before,
        Snapshots.files(spark, out, v4).size.toLong,
        Snapshots.versions(spark, out).size.toLong),
      ("state", "maintain", r.manifestsDropped, r.filesDeleted,
        r.checkpointCovers),
      ("state", "steps",
        r.compactedTo.getOrElse(0L), r.vacuumedFrom.getOrElse(0L), v4))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** MULTI-TABLE TRANSACTIONAL PUBLISH under the gate
    * ([[graft.operators.Snapshots.beginTxn]] — the cross-table
    * atomicity a pipeline's fact+dim pair needs; the create-
    * exclusive claim generalized to ONE record file that commits N
    * tables at once): orders (fact) and customer (dim) each publish
    * v1, then a transaction stages changes to BOTH tables and
    * CRASHES before its record write — the 'crashed' folds prove
    * both tables still read their v1 content (the provisional
    * manifests are invisible tombstones). A second transaction
    * applies a modify-merge to each table and COMMITS — the 'final'
    * folds carry both tables' post-txn content, the 'join' fold
    * reads the pair TOGETHER (the cross-table consistency read), and
    * the 'state' rows pin the version arithmetic: 2 committed
    * versions per table, latest = 3 (claims sit ABOVE the crashed
    * txn's tombstone at v2), 3 raw manifests. All closed-form in key
    * residues. */
  def q173(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val W = 8192L
    val base = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_txn_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    graft.operators.Snapshots.dropPath(spark, base)
    val factT = s"$base/fact"
    val dimT = s"$base/dim"
    val fact = Tables.orders(spark, dir)
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    val dim = Tables.customer(spark, dir)
      .withColumn("bucket", expr("c_custkey div 4096"))
    // the two fixture publishes and each section's fact/dim folds are
    // independent — overlap them (guide §2.6, the q189 shape)
    Par.all(spark, "q173.publish")(Seq(
      () => Snapshots.publish(fact, factT, "bucket", Seq("o_orderkey")),
      () => Snapshots.publish(dim, dimT, "bucket", Seq("c_custkey"))))
    // the crashed transaction: stages BOTH tables, record never written
    val dead = Snapshots.beginTxn(spark, s"$base/_txns/dead")
    dead.merge(fact.filter(col("o_orderkey") % 11 === 5)
        .withColumn("o_orderstatus", lit("Z")),
      factT, "bucket", Seq("o_orderkey"), Seq("o_orderkey"))
    dead.merge(dim.filter(col("c_custkey") % 13 === 5)
        .withColumn("c_mktsegment", lit("ZZ")),
      dimT, "bucket", Seq("c_custkey"), Seq("c_custkey"))
    def fold(df: DataFrame, h: Column): (Long, Long, Long) = {
      val r = df.withColumn("h", h)
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val dimRowHash: Column = {
      val canon = concat_ws("|", col("c_custkey"), col("c_name"),
        col("c_mktsegment"))
      conv(substring(md5(canon), 1, 15), 16, 10).cast("long")
    }
    def foldBoth(): Seq[(Long, Long, Long)] = Par.all(spark, "q173.fold")(Seq(
      () => fold(Snapshots.read(spark, factT), ordersRowHash),
      () => fold(Snapshots.read(spark, dimT), dimRowHash)))
    val Seq((cf1, cf2, cf3), (cd1, cd2, cd3)) = foldBoth()
    val crashed = Seq(
      ("crashed", "fact", cf1, cf2, cf3),
      ("crashed", "dim", cd1, cd2, cd3))
    // the committed transaction: both tables flip at ONE record write
    // (its claims also force-abort the dead txn — arbitration live)
    val txn = Snapshots.beginTxn(spark, s"$base/_txns/live")
    txn.merge(fact.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 2.0)
        .withColumn("o_orderstatus", lit("T")),
      factT, "bucket", Seq("o_orderkey"), Seq("o_orderkey"))
    txn.merge(dim.filter(col("c_custkey") % 13 === 0)
        .withColumn("c_mktsegment", lit("TX")),
      dimT, "bucket", Seq("c_custkey"), Seq("c_custkey"))
    txn.commit()
    val Seq((ff1, ff2, ff3), (fd1, fd2, fd3)) = foldBoth()
    val fin = Seq(
      ("final", "fact", ff1, ff2, ff3),
      ("final", "dim", fd1, fd2, fd3))
    // the pair read TOGETHER: fact ⋈ dim post-txn
    val joinHash: Column = {
      val canon = concat_ws("|", col("o_orderkey"), col("o_orderstatus"),
        (dec2(col("o_totalprice")) * 100).cast("long"), col("c_mktsegment"))
      conv(substring(md5(canon), 1, 15), 16, 10).cast("long")
    }
    val joined = Snapshots.read(spark, factT)
      .join(Snapshots.read(spark, dimT), col("o_custkey") === col("c_custkey"))
    val (j1, j2, j3) = fold(joined, joinHash)
    val state = Seq(factT, dimT).zip(Seq("fact", "dim")).map { case (t, lbl) =>
      ("state", lbl, Snapshots.versions(spark, t).size.toLong,
        Snapshots.latest(spark, t).get,
        Snapshots.rawVersions(spark, t).size.toLong)
    }
    (crashed ++ fin ++ Seq(("join", "pair", j1, j2, j3)) ++ state)
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** PARTITION EVOLUTION under the gate
    * ([[graft.operators.BucketedTable]] — re-bucket a snapshot
    * table's layout width WITHOUT rewriting history): orders publish
    * + append at width 8192, [[graft.operators.BucketedTable
    * .evolveWidth]] flips to 2048 as a METADATA-ONLY commit (v3
    * lists v2's exact files), another append lands at the new width
    * (mixed epochs coexist), a MERGE modifying every key < 8192
    * crosses the epoch boundary (its rewrite set chosen from
    * manifest stats, not bucket arithmetic — touched data migrates
    * to the new width as a side effect), and [[graft.operators
    * .BucketedTable.compact]] migrates the rest. Sections inside one
    * hash: per-version 'read' folds (v3 == v2: evolution changes no
    * rows; v6 == v5: migration changes no rows), 'files' rows
    * restating each version's file count PER EPOCH closed-form in
    * key-residue bucket arithmetic, the 'migrate' invariants (zero
    * old-epoch files after compact, one file per bucket, idempotent
    * re-compact), 'prune' folds across the epoch boundary at BOTH a
    * mixed-epoch version and the migrated one (pruning consults
    * per-file stats, never bucket arithmetic — epochs are invisible
    * to it), and the 'state' row. */
  def q174(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{BucketedTable, Snapshots}
    import spark.implicits._
    val W1 = 8192L
    val W2 = 2048L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_bevo_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    graft.operators.Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir) // no bucket column: DERIVED
    val v1 = BucketedTable.publish(src.filter(col("o_orderkey") % 3 === 0),
      out, "o_orderkey", W1)
    val v2 = BucketedTable.append(src.filter(col("o_orderkey") % 3 === 1), out)
    val v3 = BucketedTable.evolveWidth(spark, out, W2)
    val v4 = BucketedTable.append(src.filter(col("o_orderkey") % 3 === 2), out)
    val upd = src.filter(col("o_orderkey") < W1)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .withColumn("o_orderstatus", lit("U"))
    val v5 = BucketedTable.merge(upd, out, Seq("o_orderkey"))
    val v6 = BucketedTable.compact(spark, out)
    def fold(df: DataFrame): (Long, Long, Long) = {
      val r = df.withColumn("h", ordersRowHash)
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val vers = Seq(v1, v2, v3, v4, v5, v6)
    val reads = vers.zipWithIndex.map { case (v, i) =>
      val (c, x, s) = fold(BucketedTable.readAt(spark, out, v))
      ("read", f"v${i + 1}%04d", c, x, s)
    }
    val fileRows = vers.take(5).zipWithIndex.map { case (v, i) =>
      val fw = BucketedTable.fileWidths(spark, out, v)
      (s"files", f"v${i + 1}%04d", fw.size.toLong,
        fw.values.count(_ == W1).toLong, fw.values.count(_ == W2).toLong)
    }
    val fw6 = BucketedTable.fileWidths(spark, out, v6)
    val files6 = Snapshots.files(spark, out, v6)
    val migrate = Seq(("migrate", "v0006",
      fw6.values.count(_ == W1).toLong,
      if (files6.groupBy(Snapshots.fileBucket).forall(_._2.size == 1)) 1L else 0L,
      if (BucketedTable.compact(spark, out) == v6) 1L else 0L))
    val prune = Seq(v4 -> "v0004", v6 -> "v0006").map { case (v, lbl) =>
      val (c, x, s) = fold(
        BucketedTable.prunedScanAt(spark, out, v, 4096L, 12288L))
      ("prune", lbl, c, x, s)
    }
    val state = Seq(("state", "meta",
      Snapshots.versions(spark, out).size.toLong,
      Snapshots.latest(spark, out).get,
      BucketedTable.currentWidth(spark, out)._2))
    (reads ++ fileRows ++ migrate ++ prune ++ state)
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"), col("label"))
  }

  /** TYPE-WIDENING schema evolution under the gate (q168 gated the
    * ADDITIVE axis — new columns; this gates the WIDENING axis —
    * int→long on a shared column, the drift real tables hit when a
    * counter outgrows its type): orders published with o_custkey
    * narrowed to INT (`cust_i`), then a merge whose batch needs
    * LONG (keys ≡0 mod 9 get cust_i + 3·10⁹ — above 2³¹ — and
    * status 'W'). The manifest records the WIDEST type and old
    * files widen NATIVELY under the explicit read schema (no
    * rewrite — untouched buckets share files byte-for-byte, which
    * only works because Spark's parquet reader performs the int32→
    * int64 promotion itself; probed and spec-pinned). Sections:
    * v1's fold on the narrow surface, v1 RE-read after the widening
    * (time travel keeps the narrow schema — both folds equal), v2's
    * fold on the widened surface, and the schema row (v1 int / v2
    * long / a narrowing-to-string merge REFUSED — constants by
    * contract). Lossless widenings only; long→double is refused as
    * lossy (spec territory). */
  def q175(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    import spark.implicits._
    val W = 8192L
    val out = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_widen_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    graft.operators.Snapshots.dropPath(spark, out)
    val src = Tables.orders(spark, dir).select(
        col("o_orderkey"),
        col("o_custkey").cast("int").as("cust_i"),
        col("o_orderstatus"))
      .withColumn("bucket", expr(s"o_orderkey div $W"))
    val v1 = Snapshots.publish(src, out, "bucket", Seq("o_orderkey"))
    val widenBatch = src.filter(col("o_orderkey") % 9 === 0)
      .withColumn("cust_i", col("cust_i").cast("long") + 3000000000L)
      .withColumn("o_orderstatus", lit("W"))
    val v2 = Snapshots.merge(widenBatch, out, "bucket",
      Seq("o_orderkey"), Seq("o_orderkey"))
    def fold(df: DataFrame): (Long, Long, Long) = {
      val h = conv(substring(md5(concat_ws("|",
        col("o_orderkey"), col("cust_i"), col("o_orderstatus"))), 1, 15),
        16, 10).cast("long")
      val r = df.withColumn("h", h)
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
          coalesce(sum(col("h") % 1000000000000L), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (a1, a2, a3) = fold(Snapshots.readAt(spark, out, v1))
    val (b1, b2, b3) = fold(Snapshots.readAt(spark, out, v2))
    val v1Schema = Snapshots.readAt(spark, out, v1).schema
    val v2Schema = Snapshots.readAt(spark, out, v2).schema
    val refused =
      try {
        Snapshots.merge(
          src.limit(1).withColumn("cust_i", lit("oops")),
          out, "bucket", Seq("o_orderkey"), Seq("o_orderkey"))
        0L
      } catch { case _: IllegalArgumentException => 1L }
    Seq(
      ("read_v1_narrow", "fold", a1, a2, a3),
      ("read_v2_widened", "fold", b1, b2, b3),
      ("schema", "types",
        if (v1Schema("cust_i").dataType ==
          org.apache.spark.sql.types.IntegerType) 1L else 0L,
        if (v2Schema("cust_i").dataType ==
          org.apache.spark.sql.types.LongType) 1L else 0L,
        refused))
      .toDF("section", "label", "m1", "m2", "m3")
      .orderBy(col("section"))
  }

  /** Bucketed-table sort-merge join under the gate — the co-located
    * fact-fact join that removes the query-time shuffle entirely
    * (the q17 salted join's complement: salt when you cannot
    * pre-bucket, bucket when the big join RECURS — the standard
    * warehouse answer for a nightly lineitem ⋈ orders): both facts
    * persisted as 8-bucket tables hashed on the join key (the write
    * repartitions on the same key so each task holds exactly its
    * bucket → one file per bucket), then joined and aggregated.
    * The hash proves correctness (the oracle is the PLAIN join —
    * identical output shows bucketing changed nothing); the
    * ZERO-EXCHANGE property is spec territory (BucketedJoinSpec
    * pins it with broadcast disabled: Exchange gone, the residual
    * in-task sorts documented — at this gate's tiny SF the planner
    * rightly broadcasts instead, which is also correct). At 100 TB
    * neither fact side broadcasts and the bucketed SMJ is the only
    * plan that moves zero rows at query time. */
  def q165(spark: SparkSession, dir: String): DataFrame = {
    val base = sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_bjoin_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    spark.sql("DROP TABLE IF EXISTS graft_orders_bkt")
    spark.sql("DROP TABLE IF EXISTS graft_lineitem_bkt")
    Tables.orders(spark, dir).repartition(8, col("o_orderkey"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").option("path", s"$base/orders")
      .saveAsTable("graft_orders_bkt")
    Tables.lineitem(spark, dir).repartition(8, col("l_orderkey"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").option("path", s"$base/lineitem")
      .saveAsTable("graft_lineitem_bkt")
    spark.table("graft_lineitem_bkt")
      .join(spark.table("graft_orders_bkt"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
  }

  /** Generic column profiler over orders (bigint + varchar + double +
    * timestamp columns in one fixture): null count, EXACT distinct
    * count, and min/max on the type-stable surface per column —
    * numerics/timestamps on double (timestamps as epoch micros),
    * strings on binary collation. See [[graft.operators.Profile]]
    * for the Expand-shape cost note. */
  def q111(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(Tables.orders(spark, dir))
      .orderBy(col("column_name"))

  /** The wide-table profiler path (q111's escape hatch, gated): NDVs
    * via HLL++ with the q64x envelope discipline — exact NDV is
    * hash-gated, the sketch lands as an `ndv_ok` boolean the oracle
    * states as TRUE. Closes SURVEY §8 backlog item 3. */
  def q131(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profileApproxNdv(
        Tables.orders(spark, dir).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority")))
      .orderBy(col("column_name"))

  def oracleSql: Map[String, String] = Map(
    // q153: each constraint restated as its violation count — null
    // handling per constraint type exactly as the operator pins it.
    "q153_constraints" -> {
      def row(label: String, colName: String, viol: String): String =
        s"""SELECT '$label' AS "constraint", '$colName' AS column_name,
           |  CAST($viol AS BIGINT) AS violations,
           |  count(*) AS n_rows, ($viol) = 0 AS passed FROM orders""".stripMargin
      Seq(
        row("not_null:o_custkey", "o_custkey",
          "sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)"),
        row("unique:o_orderkey", "o_orderkey",
          "count(o_orderkey) - count(DISTINCT o_orderkey)"),
        row("unique:o_custkey", "o_custkey",
          "count(o_custkey) - count(DISTINCT o_custkey)"),
        row("in_range:o_totalprice", "o_totalprice",
          "sum(CASE WHEN o_totalprice IS NOT NULL AND (o_totalprice < 0.0 OR o_totalprice > 100000.0) THEN 1 ELSE 0 END)"),
        row("one_of:o_orderstatus", "o_orderstatus",
          "sum(CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END)"),
        row("one_of:o_orderpriority", "o_orderpriority",
          "sum(CASE WHEN o_orderpriority IS NOT NULL AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM') THEN 1 ELSE 0 END)"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"constraint\"")
    },
    // q155: both directions restated as NOT IN counts (null refs
    // filtered — a null can't vouch for membership).
    "q155_ref_integrity" -> {
      def row(label: String, colName: String, from: String, refCol: String,
              refTable: String): String =
        s"""SELECT '$label' AS "constraint", '$colName' AS column_name,
           |  CAST((SELECT count(*) FROM $from f WHERE f.$colName IS NOT NULL
           |    AND f.$colName NOT IN (SELECT $refCol FROM $refTable WHERE $refCol IS NOT NULL)) AS BIGINT) AS violations,
           |  (SELECT count(*) FROM $from) AS n_rows,
           |  (SELECT count(*) FROM $from f WHERE f.$colName IS NOT NULL
           |    AND f.$colName NOT IN (SELECT $refCol FROM $refTable WHERE $refCol IS NOT NULL)) = 0 AS passed""".stripMargin
      Seq(
        row("ref:o_custkey->c_custkey", "o_custkey", "orders", "c_custkey", "customer"),
        row("ref:c_custkey->o_custkey", "c_custkey", "customer", "o_custkey", "orders"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"constraint\"")
    },
    "q131_profile_approx" -> {
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority").map { c =>
        s"""SELECT '$c' AS column_name, count(DISTINCT $c) AS n_distinct,
           |  TRUE AS ndv_ok FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },
    // q111: one SELECT per column, the min/max surface picked by type
    // exactly as the engine does (numerics/timestamps -> double,
    // strings -> binary-collation varchar)
    "q111_profile" -> {
      def rowFor(c: String, minMaxNum: Option[String]): String = {
        val (mn, mx, ms, xs) = minMaxNum match {
          case Some(e) =>
            (s"CAST(${e.replace("_X_", s"min($c)")} AS DOUBLE)",
             s"CAST(${e.replace("_X_", s"max($c)")} AS DOUBLE)",
             "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
          case None =>
            ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
             s"min($c)", s"max($c)")
        }
        s"""SELECT '$c' AS column_name,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
           |  count(DISTINCT $c) AS n_distinct,
           |  $mn AS min_num, $mx AS max_num,
           |  $ms AS min_str, $xs AS max_str
           |FROM orders""".stripMargin
      }
      Seq(
        rowFor("o_orderkey", Some("_X_")),
        rowFor("o_custkey", Some("_X_")),
        rowFor("o_orderstatus", None),
        rowFor("o_totalprice", Some("_X_")),
        rowFor("o_orderdate", Some("epoch_us(_X_)")),
        rowFor("o_orderpriority", None)
      ).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },
    "q126_set_ops" ->
      """WITH c AS (
        |  SELECT DISTINCT c_nationkey AS nk FROM customer
        |  WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000),
        |s AS (
        |  SELECT DISTINCT s_nationkey AS nk FROM supplier WHERE s_acctbal < 0)
        |SELECT 'both' AS op, nk FROM (SELECT nk FROM c INTERSECT SELECT nk FROM s)
        |UNION ALL
        |SELECT 'customers_only', nk FROM (SELECT nk FROM c EXCEPT SELECT nk FROM s)
        |UNION ALL
        |SELECT 'suppliers_only', nk FROM (SELECT nk FROM s EXCEPT SELECT nk FROM c)
        |ORDER BY op, nk""".stripMargin,
    // q118: the canonical surface is integers only (cents via exact
    // decimal scaling, epoch-us dates), so no float-formatting rule
    // exists to diverge; the fold is the engine's portable 60-bit
    // md5 fold restated as a DuckDB list_reduce.
    "q118_table_checksum" -> {
      val canon = "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR) || '|' || " +
        "CAST(l_suppkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|' || " +
        "CAST(epoch_us(l_shipdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      s"""WITH h AS (
         |  SELECT l_returnflag,
         |    list_reduce(list_transform(generate_series(1, 15),
         |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
         |      (a, x) -> a * 16 + x) AS h
         |  FROM lineitem)
         |SELECT l_returnflag, count(*) AS n_rows,
         |  CAST(bit_xor(h) AS BIGINT) AS xor_sig,
         |  CAST(sum(h % 1000000000000) AS BIGINT) AS sum_sig
         |FROM h GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin
    },
    // q156: the oracle never sees the published files — it restates
    // every surface from the SOURCE table (checksums per bucket,
    // bucket survival closed-form from per-bucket min/max since a
    // bucket is a contiguous key range, pruned aggregates as the
    // plain WHERE). The engine computes the same numbers from the
    // written dataset's read-back and REAL parquet footers; equality
    // proves the round trip and the footer statistics.
    "q156_publish_roundtrip" -> {
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      s"""WITH b AS (
         |  SELECT *, o_orderkey // 8192 AS bucket,
         |    list_reduce(list_transform(generate_series(1, 15),
         |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
         |      (a, x) -> a * 16 + x) AS h
         |  FROM orders),
         |cs AS (
         |  SELECT 'checksum' AS section, lpad(CAST(bucket AS VARCHAR), 6, '0') AS label,
         |    count(*) AS m1, CAST(bit_xor(h) AS BIGINT) AS m2,
         |    CAST(sum(h % 1000000000000) AS BIGINT) AS m3
         |  FROM b GROUP BY bucket),
         |bs AS (
         |  SELECT bucket, min(o_orderkey) AS mn, max(o_orderkey) AS mx,
         |    count(*) AS n
         |  FROM b GROUP BY bucket),
         |p AS (SELECT * FROM (VALUES
         |  ('p1_low', 256, 1280), ('p2_all', 0, 1099511627776),
         |  ('p3_none', 1073741824, 1073741924), ('p4_point', 777, 778))
         |  AS t(label, lo, hi)),
         |sv AS (
         |  SELECT 'survival' AS section, p.label,
         |    (SELECT count(*) FROM bs) AS m1,
         |    CAST(coalesce(sum(CASE WHEN bs.mx >= p.lo AND bs.mn < p.hi THEN 1 ELSE 0 END), 0) AS BIGINT) AS m2,
         |    CAST(coalesce(sum(CASE WHEN bs.mx >= p.lo AND bs.mn < p.hi THEN bs.n ELSE 0 END), 0) AS BIGINT) AS m3
         |  FROM p CROSS JOIN bs GROUP BY p.label),
         |pr AS (
         |  SELECT 'pruned' AS section, p.label,
         |    count(b.o_orderkey) AS m1,
         |    CAST(coalesce(sum(CAST(CAST(b.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS BIGINT) AS m2,
         |    CAST(coalesce(bit_xor(b.h), 0) AS BIGINT) AS m3
         |  FROM p LEFT JOIN b ON b.o_orderkey >= p.lo AND b.o_orderkey < p.hi
         |  GROUP BY p.label)
         |SELECT * FROM cs UNION ALL SELECT * FROM sv UNION ALL SELECT * FROM pr
         |ORDER BY section, label""".stripMargin
    },
    // q161: the compact section restates fragmentation closed-form —
    // filesBefore = distinct key residues in the bucket (which of the
    // three loads touched it), filesAfter = 1; checksum/survival/
    // pruned re-prove the q156 invariants on the COMPACTED files.
    "q161_compaction" -> {
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      s"""WITH b AS (
         |  SELECT *, o_orderkey // 8192 AS bucket,
         |    list_reduce(list_transform(generate_series(1, 15),
         |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
         |      (a, x) -> a * 16 + x) AS h
         |  FROM orders),
         |res AS (
         |  SELECT bucket, count(DISTINCT o_orderkey % 3) AS nres, count(*) AS n
         |  FROM b GROUP BY bucket),
         |cp AS (
         |  SELECT 'compact' AS section, lpad(CAST(bucket AS VARCHAR), 6, '0') AS label,
         |    CAST(nres AS BIGINT) AS m1,
         |    CAST(CASE WHEN nres >= 2 THEN 1 ELSE nres END AS BIGINT) AS m2,
         |    n AS m3
         |  FROM res),
         |cs AS (
         |  SELECT 'checksum' AS section, lpad(CAST(bucket AS VARCHAR), 6, '0') AS label,
         |    count(*) AS m1, CAST(bit_xor(h) AS BIGINT) AS m2,
         |    CAST(sum(h % 1000000000000) AS BIGINT) AS m3
         |  FROM b GROUP BY bucket),
         |bs AS (
         |  SELECT bucket, min(o_orderkey) AS mn, max(o_orderkey) AS mx,
         |    count(*) AS n
         |  FROM b GROUP BY bucket),
         |p AS (SELECT * FROM (VALUES
         |  ('p1_low', 256, 1280), ('p2_all', 0, 1099511627776),
         |  ('p3_none', 1073741824, 1073741924), ('p4_point', 777, 778))
         |  AS t(label, lo, hi)),
         |sv AS (
         |  SELECT 'survival' AS section, p.label,
         |    (SELECT count(*) FROM bs) AS m1,
         |    CAST(coalesce(sum(CASE WHEN bs.mx >= p.lo AND bs.mn < p.hi THEN 1 ELSE 0 END), 0) AS BIGINT) AS m2,
         |    CAST(coalesce(sum(CASE WHEN bs.mx >= p.lo AND bs.mn < p.hi THEN bs.n ELSE 0 END), 0) AS BIGINT) AS m3
         |  FROM p CROSS JOIN bs GROUP BY p.label),
         |pr AS (
         |  SELECT 'pruned' AS section, p.label,
         |    count(b.o_orderkey) AS m1,
         |    CAST(coalesce(sum(CAST(CAST(b.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS BIGINT) AS m2,
         |    CAST(coalesce(bit_xor(b.h), 0) AS BIGINT) AS m3
         |  FROM p LEFT JOIN b ON b.o_orderkey >= p.lo AND b.o_orderkey < p.hi
         |  GROUP BY p.label)
         |SELECT * FROM cp UNION ALL SELECT * FROM cs
         |UNION ALL SELECT * FROM sv UNION ALL SELECT * FROM pr
         |ORDER BY section, label""".stripMargin
    },
    // q162: every section restated closed-form in key residues —
    // version v reads residues <= maxres(v); file counts are
    // distinct (bucket, residue) pairs (one file per bucket per
    // load), compaction re-points fragmented buckets at exactly one;
    // vacuum's deleted count = (files ever written) - (files the
    // kept version references).
    "q162_snapshots" -> {
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      s"""WITH b AS (
         |  SELECT *, o_orderkey // 8192 AS bucket, o_orderkey % 3 AS res,
         |    list_reduce(list_transform(generate_series(1, 15),
         |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
         |      (a, x) -> a * 16 + x) AS h
         |  FROM orders),
         |nb AS (SELECT DISTINCT bucket, res FROM b),
         |per AS (SELECT bucket, count(*) AS nres FROM nb GROUP BY bucket),
         |v AS (SELECT * FROM (VALUES (1, 0), (2, 1), (3, 2), (4, 2)) AS t(v, maxres)),
         |rd AS (
         |  SELECT 'read' AS section, 'v' || lpad(CAST(v.v AS VARCHAR), 4, '0') AS label,
         |    count(b.o_orderkey) AS m1,
         |    CAST(coalesce(bit_xor(b.h), 0) AS BIGINT) AS m2,
         |    CAST(coalesce(sum(b.h % 1000000000000), 0) AS BIGINT) AS m3
         |  FROM v LEFT JOIN b ON b.res <= v.maxres
         |  GROUP BY v.v),
         |fl AS (
         |  SELECT 'files' AS section, 'v' || lpad(CAST(v.v AS VARCHAR), 4, '0') AS label,
         |    CAST(CASE v.v
         |      WHEN 1 THEN (SELECT count(*) FROM nb WHERE res <= 0)
         |      WHEN 2 THEN (SELECT count(*) FROM nb WHERE res <= 1)
         |      WHEN 3 THEN (SELECT count(*) FROM nb)
         |      ELSE (SELECT sum(CASE WHEN nres >= 2 THEN 1 ELSE nres END) FROM per)
         |    END AS BIGINT) AS m1,
         |    (SELECT count(DISTINCT bucket) FROM nb WHERE res <= v.maxres) AS m2,
         |    (SELECT count(*) FROM b WHERE res <= v.maxres) AS m3
         |  FROM v),
         |fragn AS (SELECT count(*) AS nf FROM per WHERE nres >= 2),
         |vc AS (
         |  SELECT 'vacuum' AS section, 'only' AS label,
         |    CAST(CASE WHEN (SELECT nf FROM fragn) > 0 THEN 3 ELSE 2 END AS BIGINT) AS m1,
         |    CAST((SELECT sum(nres) FROM per) + (SELECT nf FROM fragn)
         |      - (SELECT sum(CASE WHEN nres >= 2 THEN 1 ELSE nres END) FROM per) AS BIGINT) AS m2,
         |    CAST((SELECT sum(CASE WHEN nres >= 2 THEN 1 ELSE nres END) FROM per) AS BIGINT) AS m3),
         |af AS (
         |  SELECT 'after' AS section, 'live' AS label,
         |    count(*) AS m1, CAST(bit_xor(h) AS BIGINT) AS m2,
         |    CAST(sum(h % 1000000000000) AS BIGINT) AS m3
         |  FROM b)
         |SELECT * FROM rd UNION ALL SELECT * FROM fl
         |UNION ALL SELECT * FROM vc UNION ALL SELECT * FROM af
         |ORDER BY section, label""".stripMargin
    },
    // q170: the whole table life restated — per-version residue
    // subsets (v4 == v3: compaction invisible in content), the
    // evolved v5 with the coalesced src surface, the pruned range
    // over v5, and vacuum's files-ever-minus-live arithmetic.
    "q170_lakehouse_e2e" -> {
      val hb =
        """list_reduce(list_transform(generate_series(1, 15),
          |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
          |      (a, x) -> a * 16 + x)""".stripMargin
      val hs =
        """list_reduce(list_transform(generate_series(1, 15),
          |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR) || '|' || coalesce(o_src, '-')), CAST(i AS INT), 1)) - 1 AS BIGINT)),
          |      (a, x) -> a * 16 + x)""".stripMargin
      s"""WITH b AS (
         |  SELECT *, o_orderkey // 8192 AS bucket, o_orderkey % 3 AS res3,
         |    $hb AS h
         |  FROM orders),
         |v5rows AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_totalprice,
         |    CAST(NULL AS VARCHAR) AS o_src
         |  FROM orders WHERE o_orderkey % 5 <> 0
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, 'E', o_orderdate, o_totalprice + 1.0, 'b2'
         |  FROM orders WHERE o_orderkey % 5 = 0),
         |h5 AS (SELECT o_orderkey AS k, $hs AS h FROM v5rows),
         |per AS (SELECT bucket, count(DISTINCT res3) AS nres FROM b GROUP BY bucket),
         |fragn AS (SELECT count(*) AS nf FROM per WHERE nres >= 2),
         |t5 AS (SELECT count(DISTINCT bucket) AS n FROM b WHERE o_orderkey % 5 = 0),
         |nb AS (SELECT count(DISTINCT bucket) AS n FROM b),
         |chain AS (
         |  SELECT 'chain' AS section, 'v0001' AS label, count(*) AS m1,
         |    CAST(bit_xor(h) AS BIGINT) AS m2,
         |    CAST(sum(h % 1000000000000) AS BIGINT) AS m3 FROM b WHERE res3 = 0
         |  UNION ALL SELECT 'chain', 'v0002', count(*), CAST(bit_xor(h) AS BIGINT),
         |    CAST(sum(h % 1000000000000) AS BIGINT) FROM b WHERE res3 <= 1
         |  UNION ALL SELECT 'chain', 'v0003', count(*), CAST(bit_xor(h) AS BIGINT),
         |    CAST(sum(h % 1000000000000) AS BIGINT) FROM b
         |  UNION ALL SELECT 'chain', 'v0004', count(*), CAST(bit_xor(h) AS BIGINT),
         |    CAST(sum(h % 1000000000000) AS BIGINT) FROM b
         |  UNION ALL SELECT 'chain', 'v0005', count(*), CAST(bit_xor(h) AS BIGINT),
         |    CAST(sum(h % 1000000000000) AS BIGINT) FROM h5),
         |pr AS (
         |  SELECT 'prune' AS section, 'p1_low' AS label, count(*) AS m1,
         |    CAST(coalesce(bit_xor(h), 0) AS BIGINT) AS m2,
         |    CAST(coalesce(sum(h % 1000000000000), 0) AS BIGINT) AS m3
         |  FROM h5 WHERE k >= 256 AND k < 1280),
         |vac AS (
         |  SELECT 'vacuum' AS section, 'only' AS label,
         |    CAST(CASE WHEN (SELECT nf FROM fragn) > 0 THEN 4 ELSE 3 END AS BIGINT) AS m1,
         |    CAST((SELECT sum(nres) FROM per) + (SELECT nf FROM fragn)
         |      + (SELECT n FROM t5) - (SELECT n FROM nb) AS BIGINT) AS m2,
         |    CAST((SELECT n FROM nb) AS BIGINT) AS m3),
         |fin AS (
         |  SELECT 'final' AS section, 'live' AS label, count(*) AS m1,
         |    CAST(bit_xor(h) AS BIGINT) AS m2, CAST(1 AS BIGINT) AS m3 FROM h5)
         |SELECT * FROM chain UNION ALL SELECT * FROM pr
         |UNION ALL SELECT * FROM vac UNION ALL SELECT * FROM fin
         |ORDER BY section, label""".stripMargin
    },
    // q168: v1 restated on the old schema straight off orders
    // (evolution must not touch it); v2 restated with the src
    // surface coalesced — old rows MUST read null ('-' in the fold).
    "q168_schema_evolution" -> {
      def h(extra: String) =
        s"""list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)$extra), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x)""".stripMargin
      s"""WITH v2rows AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_totalprice,
         |    CAST(NULL AS VARCHAR) AS o_src
         |  FROM orders WHERE o_orderkey % 5 <> 0
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, 'E', o_orderdate, o_totalprice + 1.0, 'b2'
         |  FROM orders WHERE o_orderkey % 5 = 0),
         |h1 AS (SELECT ${h("")} AS h FROM orders),
         |h2 AS (SELECT ${h(" || '|' || coalesce(o_src, '-')")} AS h FROM v2rows)
         |SELECT 'read_v1_oldschema' AS section, 'fold' AS label, count(*) AS m1,
         |  CAST(bit_xor(h) AS BIGINT) AS m2, CAST(sum(h % 1000000000000) AS BIGINT) AS m3
         |FROM h1
         |UNION ALL
         |SELECT 'read_v2_withsrc', 'fold', count(*),
         |  CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h2
         |UNION ALL
         |SELECT 'src_counts', 'nulls_b2',
         |  (SELECT count(*) FROM orders WHERE o_orderkey % 5 <> 0),
         |  (SELECT count(*) FROM orders WHERE o_orderkey % 5 = 0), 0
         |ORDER BY section""".stripMargin
    },
    // q169: each (version, predicate) fold restated as a plain WHERE
    // over that version's content — v1 = orders as-is, v2 = the
    // modify batch applied; pruning must change nothing.
    "q169_snapshot_prune" -> {
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      s"""WITH v2rows AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_totalprice
         |  FROM orders WHERE o_orderkey % 7 <> 0
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, 'U', o_orderdate, o_totalprice + 1.0
         |  FROM orders WHERE o_orderkey % 7 = 0),
         |h1 AS (SELECT o_orderkey AS k, list_reduce(list_transform(generate_series(1, 15),
         |    i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
         |    (a, x) -> a * 16 + x) AS h FROM orders),
         |h2 AS (SELECT o_orderkey AS k, list_reduce(list_transform(generate_series(1, 15),
         |    i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
         |    (a, x) -> a * 16 + x) AS h FROM v2rows),
         |p AS (SELECT * FROM (VALUES
         |  ('p1_low', 256, 1280), ('p2_all', 0, 1099511627776),
         |  ('p3_none', 1073741824, 1073741924), ('p4_point', 777, 778))
         |  AS t(label, lo, hi))
         |SELECT 'v1' AS version, p.label AS pred, count(x.k) AS m1,
         |  CAST(coalesce(bit_xor(x.h), 0) AS BIGINT) AS m2,
         |  CAST(coalesce(sum(x.h % 1000000000000), 0) AS BIGINT) AS m3
         |FROM p LEFT JOIN h1 x ON x.k >= p.lo AND x.k < p.hi
         |GROUP BY p.label
         |UNION ALL
         |SELECT 'v2', p.label, count(x.k),
         |  CAST(coalesce(bit_xor(x.h), 0) AS BIGINT),
         |  CAST(coalesce(sum(x.h % 1000000000000), 0) AS BIGINT)
         |FROM p LEFT JOIN h2 x ON x.k >= p.lo AND x.k < p.hi
         |GROUP BY p.label
         |ORDER BY version, pred""".stripMargin
    },
    // q167: state/ledger are constants (the replay committed
    // nothing); the final read is q164's apply-once v2 content —
    // identical fold proves the poisoned replay never applied.
    "q167_idempotent_sink" -> {
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      s"""WITH v2rows AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_totalprice
         |  FROM orders WHERE o_orderkey % 7 <> 0
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, 'U', o_orderdate, o_totalprice + 1.0
         |  FROM orders WHERE o_orderkey % 7 = 0
         |  UNION ALL
         |  SELECT o_orderkey + 1073741824, o_custkey, 'N', o_orderdate, o_totalprice
         |  FROM orders WHERE o_orderkey % 7 = 3),
         |h AS (SELECT list_reduce(list_transform(generate_series(1, 15),
         |    i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
         |    (a, x) -> a * 16 + x) AS h FROM v2rows)
         |SELECT 'ledger' AS section, 'batches' AS label,
         |  CAST(15 AS BIGINT) AS m1, CAST(7 AS BIGINT) AS m2, CAST(8 AS BIGINT) AS m3
         |UNION ALL
         |SELECT 'read', 'final', count(*),
         |  CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h
         |UNION ALL
         |SELECT 'state', 'versions', 3, 3, 2
         |ORDER BY section, label""".stripMargin
    },
    // q166: each diff side restated closed-form — p12's inserts are
    // the 'A' copies, p23 is empty both ways (the compaction
    // invariant at row level), p34 trades the modified + shifted
    // rows in for the original mod-7-0 rows out.
    "q166_snapshot_diff" -> {
      def canonH(src: String) =
        s"""SELECT list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x) AS h FROM $src""".stripMargin
      s"""WITH acp AS (
         |  SELECT o_orderkey, o_custkey, 'A' AS o_orderstatus, o_orderdate, o_totalprice
         |  FROM orders WHERE o_orderkey % 7 = 3),
         |ins34 AS (
         |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_orderdate, o_totalprice + 1.0 AS o_totalprice
         |  FROM orders WHERE o_orderkey % 7 = 0
         |  UNION ALL
         |  SELECT o_orderkey + 1073741824, o_custkey, 'N', o_orderdate, o_totalprice
         |  FROM orders WHERE o_orderkey % 7 = 3),
         |del34 AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_totalprice
         |  FROM orders WHERE o_orderkey % 7 = 0),
         |h12 AS (${canonH("acp")}),
         |hi34 AS (${canonH("ins34")}),
         |hd34 AS (${canonH("del34")}),
         |agg AS (
         |  SELECT 'p12' AS pair, 'insert' AS kind, count(*) AS m1,
         |    CAST(coalesce(bit_xor(h), 0) AS BIGINT) AS m2,
         |    CAST(coalesce(sum(h % 1000000000000), 0) AS BIGINT) AS m3 FROM h12
         |  UNION ALL SELECT 'p12', 'delete', 0, 0, 0
         |  UNION ALL SELECT 'p23', 'insert', 0, 0, 0
         |  UNION ALL SELECT 'p23', 'delete', 0, 0, 0
         |  UNION ALL SELECT 'p34', 'insert', count(*),
         |    CAST(coalesce(bit_xor(h), 0) AS BIGINT),
         |    CAST(coalesce(sum(h % 1000000000000), 0) AS BIGINT) FROM hi34
         |  UNION ALL SELECT 'p34', 'delete', count(*),
         |    CAST(coalesce(bit_xor(h), 0) AS BIGINT),
         |    CAST(coalesce(sum(h % 1000000000000), 0) AS BIGINT) FROM hd34)
         |SELECT * FROM agg ORDER BY pair, kind""".stripMargin
    },
    // q172: the streamed-and-netted change feed restated closed-form
    // per version — v1 the whole table as inserts, v2 the 'A'
    // copies, v3 ZERO (net of a compaction), v4 the merge trade
    // (q166's p34). Stream == batch CDC or the folds diverge.
    "q172_changefeed" -> {
      def canonH(src: String) =
        s"""SELECT list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x) AS h FROM $src""".stripMargin
      s"""WITH acp AS (
         |  SELECT o_orderkey, o_custkey, 'A' AS o_orderstatus, o_orderdate, o_totalprice
         |  FROM orders WHERE o_orderkey % 7 = 3),
         |ins34 AS (
         |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_orderdate, o_totalprice + 1.0 AS o_totalprice
         |  FROM orders WHERE o_orderkey % 7 = 0
         |  UNION ALL
         |  SELECT o_orderkey + 1073741824, o_custkey, 'N', o_orderdate, o_totalprice
         |  FROM orders WHERE o_orderkey % 7 = 3),
         |del34 AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_totalprice
         |  FROM orders WHERE o_orderkey % 7 = 0),
         |hall AS (${canonH("orders")}),
         |h12 AS (${canonH("acp")}),
         |hi34 AS (${canonH("ins34")}),
         |hd34 AS (${canonH("del34")}),
         |agg AS (
         |  SELECT 'v0001' AS version, 'insert' AS kind, count(*) AS m1,
         |    CAST(coalesce(bit_xor(h), 0) AS BIGINT) AS m2,
         |    CAST(coalesce(sum(h % 1000000000000), 0) AS BIGINT) AS m3 FROM hall
         |  UNION ALL SELECT 'v0001', 'delete', 0, 0, 0
         |  UNION ALL SELECT 'v0002', 'insert', count(*),
         |    CAST(coalesce(bit_xor(h), 0) AS BIGINT),
         |    CAST(coalesce(sum(h % 1000000000000), 0) AS BIGINT) FROM h12
         |  UNION ALL SELECT 'v0002', 'delete', 0, 0, 0
         |  UNION ALL SELECT 'v0003', 'insert', 0, 0, 0
         |  UNION ALL SELECT 'v0003', 'delete', 0, 0, 0
         |  UNION ALL SELECT 'v0004', 'insert', count(*),
         |    CAST(coalesce(bit_xor(h), 0) AS BIGINT),
         |    CAST(coalesce(sum(h % 1000000000000), 0) AS BIGINT) FROM hi34
         |  UNION ALL SELECT 'v0004', 'delete', count(*),
         |    CAST(coalesce(bit_xor(h), 0) AS BIGINT),
         |    CAST(coalesce(sum(h % 1000000000000), 0) AS BIGINT) FROM hd34)
         |SELECT * FROM agg ORDER BY version, kind""".stripMargin
    },
    // q173: both tables' crashed folds are the ORIGINALS (the txn
    // never committed), the final folds carry each table's merge,
    // the join reads the pair together, and the state rows pin the
    // version arithmetic (2 committed, latest 3 above the tombstone,
    // 3 raw manifests) — constants by protocol.
    "q173_txn_publish" -> {
      val ocanon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      val ccanon = "CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' || c_mktsegment"
      val jcanon = "CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR) || '|' || c_mktsegment"
      def h60(canon: String) =
        s"""list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x)""".stripMargin
      s"""WITH factf AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_totalprice
         |  FROM orders WHERE o_orderkey % 11 <> 0
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, 'T', o_orderdate, o_totalprice + 2.0
         |  FROM orders WHERE o_orderkey % 11 = 0),
         |dimf AS (
         |  SELECT c_custkey, c_name,
         |    CASE WHEN c_custkey % 13 = 0 THEN 'TX' ELSE c_mktsegment END AS c_mktsegment
         |  FROM customer),
         |hco AS (SELECT ${h60(ocanon)} AS h FROM orders),
         |hcd AS (SELECT ${h60(ccanon)} AS h FROM customer),
         |hfo AS (SELECT ${h60(ocanon)} AS h FROM factf),
         |hfd AS (SELECT ${h60(ccanon)} AS h FROM dimf),
         |hj AS (SELECT ${h60(jcanon)} AS h
         |  FROM factf JOIN dimf ON o_custkey = c_custkey),
         |agg AS (
         |  SELECT 'crashed' AS section, 'fact' AS label, count(*) AS m1,
         |    CAST(bit_xor(h) AS BIGINT) AS m2,
         |    CAST(sum(h % 1000000000000) AS BIGINT) AS m3 FROM hco
         |  UNION ALL SELECT 'crashed', 'dim', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hcd
         |  UNION ALL SELECT 'final', 'fact', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hfo
         |  UNION ALL SELECT 'final', 'dim', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hfd
         |  UNION ALL SELECT 'join', 'pair', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hj
         |  UNION ALL SELECT 'state', 'fact', 2, 3, 3
         |  UNION ALL SELECT 'state', 'dim', 2, 3, 3)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin
    },
    // q174: per-version content closed-form in residues (v3==v2:
    // metadata-only evolution; v6==v5: migration moves no rows);
    // file counts per EPOCH from residue bucket arithmetic — v5's
    // rewrite set restated as "every file whose key range intersects
    // [0, 8192)" (bucket-0 old-epoch files + new-epoch buckets 0-3,
    // each iff its residue has keys there), replaced by one file per
    // occupied new-width bucket below 8192; migrate/state rows are
    // protocol constants.
    "q174_bucket_evolution" -> {
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      def h60(src: String) =
        s"""SELECT list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x) AS h FROM $src""".stripMargin
      s"""WITH merged AS (
         |  SELECT o_orderkey, o_custkey,
         |    CASE WHEN o_orderkey < 8192 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
         |    o_orderdate,
         |    CASE WHEN o_orderkey < 8192 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
         |  FROM orders),
         |r0 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
         |r01 AS (SELECT * FROM orders WHERE o_orderkey % 3 <= 1),
         |h1 AS (${h60("r0")}),
         |h2 AS (${h60("r01")}),
         |h4 AS (${h60("orders")}),
         |h5 AS (${h60("merged")}),
         |p4 AS (${h60("orders")}
         |  WHERE o_orderkey >= 4096 AND o_orderkey < 12288),
         |p6 AS (${h60("merged")}
         |  WHERE o_orderkey >= 4096 AND o_orderkey < 12288),
         |nb AS (SELECT
         |  (SELECT count(DISTINCT o_orderkey // 8192) FROM orders WHERE o_orderkey % 3 = 0) AS b1,
         |  (SELECT count(DISTINCT o_orderkey // 8192) FROM orders WHERE o_orderkey % 3 = 1) AS b2,
         |  (SELECT count(DISTINCT o_orderkey // 2048) FROM orders WHERE o_orderkey % 3 = 2) AS b4,
         |  (SELECT count(DISTINCT o_orderkey // 8192) FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey < 8192)
         |    + (SELECT count(DISTINCT o_orderkey // 8192) FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey < 8192) AS tw1,
         |  (SELECT count(DISTINCT o_orderkey // 2048) FROM orders WHERE o_orderkey % 3 = 2 AND o_orderkey < 8192) AS tw2,
         |  (SELECT count(DISTINCT o_orderkey // 2048) FROM orders WHERE o_orderkey < 8192) AS repl),
         |agg AS (
         |  SELECT 'read' AS section, 'v0001' AS label, count(*) AS m1,
         |    CAST(bit_xor(h) AS BIGINT) AS m2, CAST(sum(h % 1000000000000) AS BIGINT) AS m3 FROM h1
         |  UNION ALL SELECT 'read', 'v0002', count(*), CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h2
         |  UNION ALL SELECT 'read', 'v0003', count(*), CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h2
         |  UNION ALL SELECT 'read', 'v0004', count(*), CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h4
         |  UNION ALL SELECT 'read', 'v0005', count(*), CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h5
         |  UNION ALL SELECT 'read', 'v0006', count(*), CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h5
         |  UNION ALL SELECT 'files', 'v0001', b1, b1, 0 FROM nb
         |  UNION ALL SELECT 'files', 'v0002', b1 + b2, b1 + b2, 0 FROM nb
         |  UNION ALL SELECT 'files', 'v0003', b1 + b2, b1 + b2, 0 FROM nb
         |  UNION ALL SELECT 'files', 'v0004', b1 + b2 + b4, b1 + b2, b4 FROM nb
         |  UNION ALL SELECT 'files', 'v0005', b1 + b2 + b4 - tw1 - tw2 + repl,
         |    b1 + b2 - tw1, b4 - tw2 + repl FROM nb
         |  UNION ALL SELECT 'migrate', 'v0006', 0, 1, 1
         |  UNION ALL SELECT 'prune', 'v0004', count(*),
         |    CAST(coalesce(bit_xor(h), 0) AS BIGINT), CAST(coalesce(sum(h % 1000000000000), 0) AS BIGINT) FROM p4
         |  UNION ALL SELECT 'prune', 'v0006', count(*),
         |    CAST(coalesce(bit_xor(h), 0) AS BIGINT), CAST(coalesce(sum(h % 1000000000000), 0) AS BIGINT) FROM p6
         |  UNION ALL SELECT 'state', 'meta', 6, 6, 2048)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin
    },
    // q176: source and replica restate to the SAME closed form (the
    // loop's whole claim); state/ledger are protocol constants —
    // batch 0 bootstrapped the replica WITH its ledger stamp, so the
    // ledger is {0,1,2} (sum 3, min 0, max 2) over 3 commits.
    "q176_cdc_loop" -> {
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      s"""WITH fin AS (
         |  SELECT o_orderkey, o_custkey,
         |    CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
         |    o_orderdate,
         |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
         |  FROM orders
         |  UNION ALL
         |  SELECT o_orderkey + 2147483648, o_custkey, 'B', o_orderdate, o_totalprice
         |  FROM orders WHERE o_orderkey % 7 = 3),
         |h AS (SELECT list_reduce(list_transform(generate_series(1, 15),
         |    i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
         |    (a, x) -> a * 16 + x) AS h FROM fin),
         |f AS (SELECT count(*) AS c, CAST(bit_xor(h) AS BIGINT) AS x,
         |  CAST(sum(h % 1000000000000) AS BIGINT) AS s FROM h),
         |agg AS (
         |  SELECT 'ledger' AS section, 'ids' AS label,
         |    CAST(3 AS BIGINT) AS m1, CAST(0 AS BIGINT) AS m2, CAST(2 AS BIGINT) AS m3
         |  UNION ALL SELECT 'replica', 'final', c, x, s FROM f
         |  UNION ALL SELECT 'source', 'final', c, x, s FROM f
         |  UNION ALL SELECT 'state', 'replica', 3, 3, 3)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin
    },
    // q177: the widened feed's net folds, closed-form — v1 = the whole
    // narrow table as inserts (values intact through the int32→long
    // promotion: int prints like long), v2 = the mod-9 trade at +3e9,
    // v3 = the shifted narrow append as pure inserts; the schema row
    // is protocol constants + the mod-9 count.
    "q177_feed_widened" -> {
      def h60(src: String) =
        s"""SELECT list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(c AS VARCHAR) || '|' || st), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x) AS h FROM $src""".stripMargin
      s"""WITH v1i AS (
         |  SELECT o_orderkey, o_custkey AS c, o_orderstatus AS st FROM orders),
         |w2i AS (
         |  SELECT o_orderkey, o_custkey + 3000000000 AS c, 'W' AS st
         |  FROM orders WHERE o_orderkey % 9 = 0),
         |w2d AS (
         |  SELECT o_orderkey, o_custkey AS c, o_orderstatus AS st
         |  FROM orders WHERE o_orderkey % 9 = 0),
         |v3i AS (
         |  SELECT o_orderkey + 2147483648 AS o_orderkey, o_custkey AS c, 'X' AS st
         |  FROM orders WHERE o_orderkey % 5 = 1),
         |h1 AS (${h60("v1i")}),
         |h2i AS (${h60("w2i")}),
         |h2d AS (${h60("w2d")}),
         |h3 AS (${h60("v3i")}),
         |agg AS (
         |  SELECT 'v0001' AS version, 'insert' AS kind, count(*) AS m1,
         |    CAST(coalesce(bit_xor(h), 0) AS BIGINT) AS m2,
         |    CAST(coalesce(sum(h % 1000000000000), 0) AS BIGINT) AS m3 FROM h1
         |  UNION ALL SELECT 'v0001', 'delete', 0, 0, 0
         |  UNION ALL SELECT 'v0002', 'insert', count(*),
         |    CAST(coalesce(bit_xor(h), 0) AS BIGINT),
         |    CAST(coalesce(sum(h % 1000000000000), 0) AS BIGINT) FROM h2i
         |  UNION ALL SELECT 'v0002', 'delete', count(*),
         |    CAST(coalesce(bit_xor(h), 0) AS BIGINT),
         |    CAST(coalesce(sum(h % 1000000000000), 0) AS BIGINT) FROM h2d
         |  UNION ALL SELECT 'v0003', 'insert', count(*),
         |    CAST(coalesce(bit_xor(h), 0) AS BIGINT),
         |    CAST(coalesce(sum(h % 1000000000000), 0) AS BIGINT) FROM h3
         |  UNION ALL SELECT 'v0003', 'delete', 0, 0, 0
         |  UNION ALL SELECT 'schema', 'feed', 1, 0,
         |    (SELECT count(*) FROM orders WHERE o_orderkey % 9 = 0))
         |SELECT * FROM agg ORDER BY version, kind""".stripMargin
    },
    // q178: per-version content in residue algebra (v2 drops mod-11,
    // v3 additionally drops mod-13≡3∧mod-7≠0 and modifies mod-7≡0);
    // source final == replica final == v3; travel == v1; the ledger
    // is {0,1,2}; vacuum drops 2 manifests, reclaims files, and the
    // head fold is unchanged — protocol constants.
    "q178_delete_cdc" -> {
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      def h60(src: String) =
        s"""SELECT list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x) AS h FROM $src""".stripMargin
      s"""WITH v2r AS (
         |  SELECT * FROM orders WHERE o_orderkey % 11 <> 0),
         |v3r AS (
         |  SELECT o_orderkey, o_custkey,
         |    CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE o_orderstatus END AS o_orderstatus,
         |    o_orderdate,
         |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
         |  FROM orders
         |  WHERE o_orderkey % 11 <> 0
         |    AND NOT (o_orderkey % 13 = 3 AND o_orderkey % 7 <> 0)),
         |h1 AS (${h60("orders")}),
         |h2 AS (${h60("v2r")}),
         |h3 AS (${h60("v3r")}),
         |agg AS (
         |  SELECT 'ledger' AS section, 'ids' AS label,
         |    CAST(3 AS BIGINT) AS m1, CAST(0 AS BIGINT) AS m2, CAST(2 AS BIGINT) AS m3
         |  UNION ALL SELECT 'read', 'v0001', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h1
         |  UNION ALL SELECT 'read', 'v0002', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h2
         |  UNION ALL SELECT 'read', 'v0003', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h3
         |  UNION ALL SELECT 'replica', 'final', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h3
         |  UNION ALL SELECT 'source', 'final', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h3
         |  UNION ALL SELECT 'travel', 'v0001', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h1
         |  UNION ALL SELECT 'vacuum', 'reclaim', 2, 1, 1)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin
    },
    // q182: the exact distinct counts are the SQL surface; the band
    // and exactness flags are constants (deterministic xxhash64
    // sketches; o_orderstatus's 3 values sit below k=128 so its
    // sketch is exact, the key columns estimate within 3 sigma).
    "q182_ndv" -> {
      s"""WITH agg AS (
         |  SELECT 'v0001' AS version, 'custkey' AS colname,
         |    (SELECT count(DISTINCT o_custkey) FROM orders) AS m1,
         |    CAST(1 AS BIGINT) AS m2, CAST(0 AS BIGINT) AS m3
         |  UNION ALL SELECT 'v0001', 'orderkey',
         |    (SELECT count(DISTINCT o_orderkey) FROM orders), 1, 0
         |  UNION ALL SELECT 'v0001', 'status',
         |    (SELECT count(DISTINCT o_orderstatus) FROM orders), 1, 1
         |  UNION ALL SELECT 'v0002', 'custkey',
         |    (SELECT count(DISTINCT o_custkey) FROM orders WHERE o_orderkey % 3 <> 0), 1, 0
         |  UNION ALL SELECT 'v0002', 'orderkey',
         |    (SELECT count(DISTINCT o_orderkey) FROM orders WHERE o_orderkey % 3 <> 0), 1, 0
         |  UNION ALL SELECT 'v0002', 'status',
         |    (SELECT count(DISTINCT o_orderstatus) FROM orders WHERE o_orderkey % 3 <> 0), 1, 1)
         |SELECT * FROM agg ORDER BY version, colname""".stripMargin
    },
    // q181: per-version content in residue algebra over the derived
    // string key (v3==v2: metadata-only evolution; v7==v6: migration
    // moves nothing); the lookup restates as an IN filter; epoch/
    // migrate/state rows are protocol constants.
    "q181_hash_bucket" -> {
      val canon = "key || '|' || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      def h60(src: String) =
        s"""SELECT list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x) AS h FROM $src""".stripMargin
      s"""WITH src AS (
         |  SELECT 'k' || lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS key,
         |    o_orderkey, o_custkey, o_orderstatus, o_totalprice
         |  FROM orders),
         |s1 AS (SELECT * FROM src WHERE o_orderkey % 3 = 0),
         |s3 AS (SELECT * FROM src WHERE o_orderkey % 3 <= 1),
         |v5r AS (
         |  SELECT key, o_orderkey, o_custkey,
         |    CASE WHEN o_orderkey % 500 = 7 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
         |    CASE WHEN o_orderkey % 500 = 7 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
         |  FROM src),
         |v6r AS (SELECT * FROM v5r WHERE o_orderkey % 500 <> 11),
         |lk AS (SELECT * FROM v6r WHERE o_orderkey IN (77, 7007)),
         |h1 AS (${h60("s1")}),
         |h3 AS (${h60("s3")}),
         |h4 AS (${h60("src")}),
         |h5 AS (${h60("v5r")}),
         |h6 AS (${h60("v6r")}),
         |hl AS (${h60("lk")}),
         |agg AS (
         |  SELECT 'epochs' AS section, 'v0004' AS label,
         |    CAST(1 AS BIGINT) AS m1, CAST(1 AS BIGINT) AS m2, CAST(1 AS BIGINT) AS m3
         |  UNION ALL SELECT 'lookup', 'keys', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hl
         |  UNION ALL SELECT 'migrate', 'v0007', 0, 1, 1
         |  UNION ALL SELECT 'read', 'v0001', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h1
         |  UNION ALL SELECT 'read', 'v0003', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h3
         |  UNION ALL SELECT 'read', 'v0004', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h4
         |  UNION ALL SELECT 'read', 'v0005', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h5
         |  UNION ALL SELECT 'read', 'v0006', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h6
         |  UNION ALL SELECT 'read', 'v0007', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h6
         |  UNION ALL SELECT 'state', 'meta', 7, 7, 32)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin
    },
    // q183: every box/window fold restates as its plain filter over
    // the derived grid (pruning is pure I/O — residuals keep it
    // exact); state rows are closed form BY CONSTRUCTION: shift 26 on
    // a 32-bit Morton key = 64 level-3 cells, the cell-aligned
    // quadrant box reads 2x2 = 4 files, a one-dimension window 2x8 =
    // 16, regardless of data
    "q183_zorder_table" -> {
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "CAST(x AS VARCHAR) || '|' || CAST(y AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      def h60(src: String) =
        s"""SELECT list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x2) -> a * 16 + x2) AS h FROM $src""".stripMargin
      s"""WITH src AS (
         |  SELECT o_orderkey, o_custkey, o_totalprice,
         |    (o_orderkey * 7919) % 65536 AS x,
         |    (o_custkey * 104729) % 65536 AS y
         |  FROM orders),
         |v2 AS (
         |  SELECT o_orderkey, o_custkey,
         |    CASE WHEN o_orderkey % 500 = 7 THEN o_totalprice + 1.0
         |         ELSE o_totalprice END AS o_totalprice, x, y
         |  FROM src),
         |v3 AS (SELECT * FROM v2 WHERE o_orderkey % 5 <> 0),
         |a5 AS (
         |  SELECT o_orderkey + 2147483648 AS o_orderkey, o_custkey,
         |    o_totalprice,
         |    ((o_orderkey + 2147483648) * 7919) % 65536 AS x,
         |    (o_custkey * 104729) % 65536 AS y
         |  FROM orders WHERE o_orderkey % 10 = 7),
         |v5 AS (SELECT * FROM v3 UNION ALL SELECT * FROM a5),
         |b1 AS (SELECT * FROM src WHERE x < 16384 AND y < 16384),
         |b3 AS (SELECT * FROM v3 WHERE x < 16384 AND y < 16384),
         |wx AS (SELECT * FROM v3 WHERE x < 16384),
         |wy AS (SELECT * FROM v3 WHERE y < 16384),
         |hb1 AS (${h60("b1")}),
         |hb3 AS (${h60("b3")}),
         |hwx AS (${h60("wx")}),
         |hwy AS (${h60("wy")}),
         |hf AS (${h60("v3")}),
         |h5 AS (${h60("v5")}),
         |agg AS (
         |  SELECT 'box' AS section, 'v0001' AS label, count(*) AS m1,
         |    CAST(bit_xor(h) AS BIGINT) AS m2,
         |    CAST(sum(h % 1000000000000) AS BIGINT) AS m3 FROM hb1
         |  UNION ALL SELECT 'box', 'v0003', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hb3
         |  UNION ALL SELECT 'window', 'x', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hwx
         |  UNION ALL SELECT 'window', 'y', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hwy
         |  UNION ALL SELECT 'read', 'v0003', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hf
         |  UNION ALL SELECT 'read', 'v0005', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h5
         |  UNION ALL SELECT 'read', 'v0006', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h5
         |  UNION ALL SELECT 'state', 'evolve', 1, 2, 1
         |  UNION ALL SELECT 'state', 'files_v0001', 4, 16, 64
         |  UNION ALL SELECT 'state', 'files_v0003', 4, 16, 64
         |  UNION ALL SELECT 'state', 'files_v0006', 1, 4, 16
         |  UNION ALL SELECT 'state', 'meta', 16, 6, 28)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin
    },
    // q184: reads restate as plain filters; ckpt/prop rows are
    // protocol arithmetic (policy N=2 fires at v2 covering 2 and at
    // v4 covering 4; the setProp commit is metadata-only so v3 lists
    // v2's exact files; property sets ride in the labels)
    "q184_table_props" -> {
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      def h60(src: String) =
        s"""SELECT list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x) AS h FROM $src""".stripMargin
      s"""WITH v1r AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
         |v4r AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |    CASE WHEN o_orderkey % 500 = 7 THEN o_totalprice + 1.0
         |         ELSE o_totalprice END AS o_totalprice, o_orderdate
         |  FROM orders),
         |h1 AS (${h60("v1r")}),
         |h4 AS (${h60("v4r")}),
         |agg AS (
         |  SELECT 'ckpt' AS section, 'v0001' AS label, CAST(0 AS BIGINT) AS m1,
         |    CAST(0 AS BIGINT) AS m2, CAST(0 AS BIGINT) AS m3
         |  UNION ALL SELECT 'ckpt', 'v0002', 1, 2, 0
         |  UNION ALL SELECT 'ckpt', 'v0003', 1, 2, 1
         |  UNION ALL SELECT 'ckpt', 'v0004', 1, 4, 0
         |  UNION ALL SELECT 'prop', 'v0001_ckptevery=2,owner=pipeline-a', 1, 1, 1
         |  UNION ALL SELECT 'prop', 'v0004_ckptevery=2,owner=pipeline-a,tier=gold', 1, 1, 1
         |  UNION ALL SELECT 'read', 'v0001', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h1
         |  UNION ALL SELECT 'read', 'v0004', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h4)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin
    },
    // q185: each executed join restates as its plain SQL join (a
    // strategy moves bytes, never rows); plan labels are constants
    // (decisions are deterministic functions of the fixed manifests);
    // the est row's band flag is 1 by the q64x envelope discipline
    "q185_join_planner" -> {
      def h60(canon: String, src: String) =
        s"""SELECT list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x) AS h FROM $src""".stripMargin
      val cBc = "CAST(k AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      val cSh = "CAST(k AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      val cSa = "CAST(k AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR) || '|' || " +
        "CAST(c_custkey AS VARCHAR)"
      val cSk = "CAST(k AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      s"""WITH bc AS (
         |  SELECT o.o_custkey AS k, o.o_orderkey, o.o_totalprice, c.c_acctbal
         |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         |sh AS (
         |  SELECT o.o_orderkey AS k, l.l_linenumber, o.o_totalprice
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |sa AS (
         |  SELECT (o.o_custkey % 50) AS k, o.o_orderkey, c.c_custkey
         |  FROM orders o JOIN customer c ON (o.o_custkey % 50) = (c.c_custkey % 50)
         |  WHERE c.c_custkey <= 50),
         |sk AS (
         |  SELECT o_orderkey AS k, o_totalprice FROM orders
         |  WHERE o_orderkey < 8192),
         |hb AS (${h60(cBc, "bc")}),
         |hs AS (${h60(cSh, "sh")}),
         |ha AS (${h60(cSa, "sa")}),
         |hk AS (${h60(cSk, "sk")}),
         |agg AS (
         |  SELECT 'plan' AS section, 'bc_broadcast_right_x1' AS label,
         |    CAST(1 AS BIGINT) AS m1, CAST(1 AS BIGINT) AS m2, CAST(1 AS BIGINT) AS m3
         |  UNION ALL SELECT 'plan', 'sh_shuffle_none_x1', 1, 1, 1
         |  UNION ALL SELECT 'plan', 'sa_salted_left_x16', 1, 1, 1
         |  UNION ALL SELECT 'plan', 'stats_bhj', 1, 1, 1
         |  UNION ALL SELECT 'skip', 'files',
         |    (SELECT count(DISTINCT o_orderkey // 8192) FROM orders
         |     WHERE o_orderkey < 8192),
         |    (SELECT count(DISTINCT o_orderkey // 8192) FROM orders), 1
         |  UNION ALL SELECT 'skip', 'fold', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hk
         |  UNION ALL SELECT 'join', 'bc', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hb
         |  UNION ALL SELECT 'join', 'sh', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hs
         |  UNION ALL SELECT 'join', 'sa', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM ha
         |  UNION ALL SELECT 'est', 'orders_lineitem', 1,
         |    (SELECT count(*) FROM sh), 1)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin
    },
    // q189: box/read sections restate as plain timestamp/double
    // filters over raw orders (+ the shifted-date union for v2); the
    // prune/state rows are flags and protocol constants (file counts
    // depend on the derived quantile cells — the gate pins the
    // INVARIANTS: strictly-fewer-files pruning, 2 mapping props,
    // edge-cell clamping).
    "q189_zmap" -> {
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      def h60(src: String) =
        s"""SELECT list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x) AS h FROM $src""".stripMargin
      s"""WITH app AS (
         |  SELECT o_orderkey + 2147483648 AS o_orderkey, o_custkey,
         |    o_orderstatus, o_orderdate + INTERVAL 3653 DAY AS o_orderdate,
         |    o_totalprice
         |  FROM orders WHERE o_orderkey % 10 = 1),
         |u AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate,
         |    o_totalprice FROM orders
         |  UNION ALL SELECT * FROM app),
         |b1 AS (SELECT * FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '1998-01-01'
         |    AND o_orderdate < TIMESTAMP '2000-01-01'
         |    AND o_totalprice >= 50000 AND o_totalprice < 150000),
         |b2 AS (SELECT * FROM u
         |  WHERE o_orderdate >= TIMESTAMP '1998-01-01'
         |    AND o_orderdate < TIMESTAMP '2000-01-01'
         |    AND o_totalprice >= 50000 AND o_totalprice < 150000),
         |h1 AS (${h60("orders")}),
         |h2 AS (${h60("u")}),
         |hb1 AS (${h60("b1")}),
         |hb2 AS (${h60("b2")}),
         |agg AS (
         |  SELECT 'box' AS section, 'v0001' AS label, count(*) AS m1,
         |    CAST(bit_xor(h) AS BIGINT) AS m2,
         |    CAST(sum(h % 1000000000000) AS BIGINT) AS m3 FROM hb1
         |  UNION ALL SELECT 'box', 'v0002', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hb2
         |  UNION ALL SELECT 'read', 'v0001', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h1
         |  UNION ALL SELECT 'read', 'v0002', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h2
         |  UNION ALL SELECT 'prune', 'flags', 1, 1, 1
         |  UNION ALL SELECT 'state', 'zmap', 2, 1, 1)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin
    },
    // q188: every section restates as plain residue filters over raw
    // orders (deletes never moved data, so the row surfaces are exact
    // set algebra); the state/vacuum rows are protocol arithmetic —
    // files identical across both DV commits, dv-file count = the
    // buckets the doomed keys fall in, zero vectors after compact,
    // three manifests vacuumed.
    "q188_dv_delete" -> {
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      def h60(src: String) =
        s"""SELECT list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x) AS h FROM $src""".stripMargin
      s"""WITH alive2 AS (SELECT * FROM orders WHERE o_orderkey % 97 <> 0),
         |alive3 AS (SELECT * FROM orders
         |  WHERE o_orderkey % 97 <> 0 AND o_orderkey % 101 <> 0),
         |dead2 AS (SELECT * FROM orders WHERE o_orderkey % 97 = 0),
         |dead3 AS (SELECT * FROM orders
         |  WHERE o_orderkey % 101 = 0 AND o_orderkey % 97 <> 0),
         |h1 AS (${h60("orders")}),
         |h2 AS (${h60("alive2")}),
         |h3 AS (${h60("alive3")}),
         |hd2 AS (${h60("dead2")}),
         |hd3 AS (${h60("dead3")}),
         |sc AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
         |hsc AS (${h60("sc")}),
         |agg AS (
         |  SELECT 'count' AS section, 'manifest' AS label,
         |    (SELECT count(*) FROM alive3) AS m1,
         |    (SELECT count(*) FROM alive3) AS m2, CAST(1 AS BIGINT) AS m3
         |  UNION ALL SELECT 'deleted', 'step2', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hd3
         |  UNION ALL SELECT 'feed', 'v0002', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hd2
         |  UNION ALL SELECT 'feed', 'v0003', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hd3
         |  UNION ALL SELECT 'read', 'v0001', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h1
         |  UNION ALL SELECT 'read', 'v0002', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h2
         |  UNION ALL SELECT 'read', 'v0003', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h3
         |  UNION ALL SELECT 'sidecar', 'fold', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hsc
         |  UNION ALL SELECT 'sidecar', 'state', 1,
         |    (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0), 1
         |  UNION ALL SELECT 'state', 'dv', 1,
         |    (SELECT count(DISTINCT o_orderkey // 2048) FROM orders
         |     WHERE o_orderkey % 97 = 0 OR o_orderkey % 101 = 0), 0
         |  UNION ALL SELECT 'vacuum', 'reclaim', 3, 1, 1)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin
    },
    // q190: the named-table folds restate from raw orders (t1 = the
    // k%7=0 insert + the VALUES row); the create/format/plan rows are
    // protocol constants (empty create reads 0 over 3 final versions,
    // format == SQL counts, broadcast on at default / off below the
    // manifest byte sum, props carried)
    "q190_named_catalog" ->
      s"""WITH t1 AS (SELECT o_orderkey AS k, o_custkey AS c FROM orders
         |  WHERE o_orderkey % 7 = 0),
         |s AS (SELECT count(*) AS n,
         |  CAST(sum(o_orderkey % 1000000000000) AS BIGINT) AS sk,
         |  CAST(sum(o_custkey % 1000000000000) AS BIGINT) AS sc FROM orders),
         |a AS (SELECT count(*) AS n,
         |  CAST(sum(k % 1000000000000) AS BIGINT) AS sk,
         |  CAST(sum(c % 1000000000000) AS BIGINT) AS sc FROM t1),
         |d AS (SELECT count(*) AS n,
         |  CAST(sum(k % 1000000000000) AS BIGINT) AS sk,
         |  CAST(sum(c % 1000000000000) AS BIGINT) AS sc FROM t1
         |  WHERE k NOT IN (14, 70, 700)),
         |agg AS (
         |  SELECT 'create' AS section, 't' AS label, CAST(0 AS BIGINT) AS m1,
         |    CAST(1 AS BIGINT) AS m2, CAST(1 AS BIGINT) AS m3
         |  UNION ALL SELECT 'delete', 'where', (SELECT n + 1 FROM d),
         |    (SELECT sk + 2147483648 FROM d), (SELECT sc - 1 FROM d)
         |  UNION ALL SELECT 'format', 'load', 1, 1, 1
         |  UNION ALL SELECT 'insert', 'head', (SELECT n + 1 FROM a),
         |    (SELECT sk + 2147483648 FROM a), (SELECT sc - 1 FROM a)
         |  UNION ALL SELECT 'plan', 'bhj', 1, 0, 1
         |  UNION ALL SELECT 'read', 'src', (SELECT n FROM s),
         |    (SELECT sk FROM s), (SELECT sc FROM s)
         |  UNION ALL SELECT 'travel', 'v0002', (SELECT n FROM a),
         |    (SELECT sk FROM a), 1)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin,
    // q191: the merged states restated closed-form from raw orders —
    // general shape (orderkeys unique, so matched = k%6=0 on the even
    // target vs the k%3=0 source; first-match order puts the k%30=0
    // delete ahead of the update; NMBS deletes even non-matches with
    // k%7=0; odd multiples of 3 insert) and the hash upsert over
    // distinct custkeys ('u' keys update when c%10=0, 'w' keys insert
    // when c%100=0)
    "q191_sql_merge" ->
      s"""WITH t0 AS (SELECT o_orderkey AS k, o_custkey AS c FROM orders
         |  WHERE o_orderkey % 2 = 0),
         |m AS (
         |  SELECT k, CASE WHEN k % 6 = 0 THEN c + 77 ELSE c END AS c
         |  FROM t0
         |  WHERE NOT (k % 6 = 0 AND k % 5 = 0)
         |    AND NOT (k % 6 <> 0 AND k % 7 = 0)
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey + 77 FROM orders
         |  WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0),
         |cust AS (SELECT DISTINCT o_custkey AS c FROM orders),
         |h AS (
         |  SELECT CASE WHEN c % 10 = 0 THEN c + 5 ELSE c END AS n FROM cust
         |  UNION ALL
         |  SELECT c + 1000000 FROM cust WHERE c % 100 = 0),
         |agg AS (
         |  SELECT 'merge' AS section, 'general' AS label,
         |    count(*) AS m1, CAST(sum(k % 1000000000000) AS BIGINT) AS m2,
         |    CAST(sum(c % 1000000000000) AS BIGINT) AS m3 FROM m
         |  UNION ALL SELECT 'merge', 'upsert', count(*),
         |    CAST(sum(n % 1000000000000) AS BIGINT), 1 FROM h
         |  UNION ALL SELECT 'plan', 'refuse', 1, 1, 1
         |  UNION ALL SELECT 'travel', 'pre', (SELECT count(*) FROM t0),
         |    (SELECT CAST(sum(k % 1000000000000) AS BIGINT) FROM t0), 1)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin,
    // q192: the updated head restated closed-form from raw orders; the
    // timestamp travel lands between the stamped insert and update so
    // it reads the PRE-update state; flags are protocol arithmetic
    "q192_sql_update" ->
      s"""WITH t0 AS (SELECT o_orderkey AS k, o_custkey AS c FROM orders),
         |agg AS (
         |  SELECT 'plan' AS section, 'flags' AS label,
         |    CAST(1 AS BIGINT) AS m1, CAST(1 AS BIGINT) AS m2,
         |    CAST(1 AS BIGINT) AS m3
         |  UNION ALL SELECT 'travel', 'pre', (SELECT count(*) FROM t0),
         |    (SELECT CAST(sum(k % 1000000000000) AS BIGINT) FROM t0),
         |    (SELECT CAST(sum(c % 1000000000000) AS BIGINT) FROM t0)
         |  UNION ALL SELECT 'update', 'head', (SELECT count(*) FROM t0),
         |    (SELECT CAST(sum(k % 1000000000000) AS BIGINT) FROM t0),
         |    (SELECT CAST(sum((CASE WHEN k % 9 = 4 THEN c + 1000
         |      ELSE c END) % 1000000000000) AS BIGINT) FROM t0))
         |SELECT * FROM agg ORDER BY section, label""".stripMargin,
    // q193: the read restates from raw orders (maintenance SQL moves
    // nothing); every other row is protocol arithmetic — versions 4+5
    // survive the RETAIN 2 vacuum with injected stamps 4s+5s, 3 loads
    // × 8 buckets = 24 files fold to 8, the dropped manifests' files
    // stay referenced by v4 (0 deleted), and the three flags pin the
    // flat dispatch, the commit-free re-run and the no-default refusal
    "q193_sql_maintain" ->
      s"""WITH t0 AS (SELECT o_orderkey AS k, o_custkey AS c FROM orders),
         |agg AS (
         |  SELECT 'history' AS section, 'fold' AS label,
         |    CAST(2 AS BIGINT) AS m1, CAST(9 AS BIGINT) AS m2,
         |    CAST(9 AS BIGINT) AS m3
         |  UNION ALL SELECT 'plan', 'flags', 1, 1, 1
         |  UNION ALL SELECT 'read', 'head', (SELECT count(*) FROM t0),
         |    (SELECT CAST(sum(k % 1000000000000) AS BIGINT) FROM t0),
         |    (SELECT CAST(sum(c % 1000000000000) AS BIGINT) FROM t0)
         |  UNION ALL SELECT 'state', 'files', 24, 8, 2
         |  UNION ALL SELECT 'state', 'vacuum', 4, 3, 0)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin,
    // q194: the post-replace head = even-key orders with c+1e6; the
    // VERSION AS OF 1 travel = the full CTAS content; flags are
    // protocol arithmetic (one CTAS version, one replace version,
    // abort refused + clean)
    "q194_sql_ctas" ->
      s"""WITH t0 AS (SELECT o_orderkey AS k, o_custkey AS c FROM orders),
         |agg AS (
         |  SELECT 'plan' AS section, 'flags' AS label,
         |    CAST(1 AS BIGINT) AS m1, CAST(1 AS BIGINT) AS m2,
         |    CAST(1 AS BIGINT) AS m3
         |  UNION ALL SELECT 'read', 'head',
         |    (SELECT count(*) FROM t0 WHERE k % 2 = 0),
         |    (SELECT CAST(sum(k % 1000000000000) AS BIGINT) FROM t0
         |       WHERE k % 2 = 0),
         |    (SELECT CAST(sum((c + 1000000) % 1000000000000) AS BIGINT)
         |       FROM t0 WHERE k % 2 = 0)
         |  UNION ALL SELECT 'travel', 'pre', (SELECT count(*) FROM t0),
         |    (SELECT CAST(sum(k % 1000000000000) AS BIGINT) FROM t0),
         |    (SELECT CAST(sum(c % 1000000000000) AS BIGINT) FROM t0))
         |SELECT * FROM agg ORDER BY section, label""".stripMargin,
    // q195: head = (even keys) ∪ (keys %3=0), w = k*7 on the %3=0
    // keys and NULL (folded as 0) elsewhere; flags are protocol
    // arithmetic (schema evolved, metadata-only commit, travel reads
    // the 3-column schema)
    "q195_sql_evolution" ->
      s"""WITH t0 AS (SELECT o_orderkey AS k FROM orders),
         |live AS (SELECT k FROM t0 WHERE k % 2 = 0 OR k % 3 = 0),
         |agg AS (
         |  SELECT 'plan' AS section, 'flags' AS label,
         |    CAST(1 AS BIGINT) AS m1, CAST(1 AS BIGINT) AS m2,
         |    CAST(1 AS BIGINT) AS m3
         |  UNION ALL SELECT 'read', 'head', (SELECT count(*) FROM live),
         |    (SELECT CAST(sum(k % 1000000000000) AS BIGINT) FROM live),
         |    (SELECT CAST(sum(CASE WHEN k % 3 = 0 THEN (k * 7) % 1000000000000
         |       ELSE 0 END) AS BIGINT) FROM live))
         |SELECT * FROM agg ORDER BY section, label""".stripMargin,
    // q187: replica == source == the plain recomputation (the loop
    // moves every change exactly once); ledger row is protocol
    // arithmetic — batches {0,1,2} applied, 3 replica versions, the
    // replayed last batch absorbed
    "q187_z_cdc" -> {
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "CAST(x AS VARCHAR) || '|' || CAST(y AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      s"""WITH src AS (
         |  SELECT o_orderkey, o_custkey, o_totalprice,
         |    (o_orderkey * 7919) % 65536 AS x,
         |    (o_custkey * 104729) % 65536 AS y
         |  FROM orders),
         |v2 AS (
         |  SELECT o_orderkey, o_custkey,
         |    CASE WHEN o_orderkey % 500 = 7 THEN o_totalprice + 1.0
         |         ELSE o_totalprice END AS o_totalprice, x, y
         |  FROM src WHERE o_orderkey % 10 <> 3),
         |a3 AS (
         |  SELECT o_orderkey + 2147483648 AS o_orderkey, o_custkey,
         |    o_totalprice,
         |    ((o_orderkey + 2147483648) * 7919) % 65536 AS x,
         |    (o_custkey * 104729) % 65536 AS y
         |  FROM orders WHERE o_orderkey % 10 = 1),
         |v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM a3),
         |h AS (
         |  SELECT list_reduce(list_transform(generate_series(1, 15),
         |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
         |      (a, x2) -> a * 16 + x2) AS h FROM v3),
         |agg AS (
         |  SELECT 'read' AS section, 'replica' AS label, count(*) AS m1,
         |    CAST(bit_xor(h) AS BIGINT) AS m2,
         |    CAST(sum(h % 1000000000000) AS BIGINT) AS m3 FROM h
         |  UNION ALL SELECT 'read', 'source', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h
         |  UNION ALL SELECT 'state', 'ledger', 2, 3, 1)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin
    },
    // q186: the read restates as the plain table (maintenance moves
    // nothing); state rows are protocol arithmetic — 3 loads x 8
    // key-div buckets = 24 files compact to 8 at v4, retention 1
    // drops manifests 1..3 and deletes the 24 now-unreferenced
    // fragments, the checkpoint covers the 1 surviving version
    "q186_maintain" -> {
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      s"""WITH h AS (
         |  SELECT list_reduce(list_transform(generate_series(1, 15),
         |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
         |      (a, x) -> a * 16 + x) AS h FROM orders),
         |agg AS (
         |  SELECT 'read' AS section, 'v0004' AS label, count(*) AS m1,
         |    CAST(bit_xor(h) AS BIGINT) AS m2,
         |    CAST(sum(h % 1000000000000) AS BIGINT) AS m3 FROM h
         |  UNION ALL SELECT 'state', 'files', 24, 8, 1
         |  UNION ALL SELECT 'state', 'maintain', 3, 24, 1
         |  UNION ALL SELECT 'state', 'steps', 4, 4, 4)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin
    },
    // q180: each prune restates as its plain filter (pruning is a
    // pure I/O optimization — the residual keeps it exact); the state
    // row is protocol arithmetic: 2 of 6 files intersect the mid
    // window (three date slices x two key buckets; only the middle
    // slice's pair can), 3 versions.
    "q180_prune_typed" -> {
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      def h60(where: String) =
        s"""SELECT list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5($canon), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x) AS h FROM orders $where""".stripMargin
      s"""WITH hf AS (${h60("")}),
         |hk AS (${h60("WHERE o_orderkey >= 4096 AND o_orderkey < 12288")}),
         |ho AS (${h60("WHERE o_orderstatus >= 'O' AND o_orderstatus < 'P'")}),
         |ht AS (${h60("WHERE o_orderdate >= TIMESTAMP '1997-06-01' AND o_orderdate < TIMESTAMP '1998-06-01'")}),
         |agg AS (
         |  SELECT 'full' AS section, 'read' AS label, count(*) AS m1,
         |    CAST(bit_xor(h) AS BIGINT) AS m2,
         |    CAST(sum(h % 1000000000000) AS BIGINT) AS m3 FROM hf
         |  UNION ALL SELECT 'prune_key', 'mid', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hk
         |  UNION ALL SELECT 'prune_str', 'O', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM ho
         |  UNION ALL SELECT 'prune_ts', 'mid', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM ht
         |  UNION ALL SELECT 'state', 'files', 2, 6, 3)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin
    },
    // q179: rename changes NAMES, never values — read v1/v2 hash
    // identically (v2 under the new name), v4 is residue algebra, the
    // feed's rename step (v2) is ZERO rows both ways (identical files
    // cancel at the metadata level), and the pruned scan's range
    // excludes the shifted appends; state row = protocol constants.
    "q179_rename" -> {
      def h60(src: String) =
        s"""SELECT list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || st), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x) AS h FROM $src""".stripMargin
      s"""WITH v1r AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus AS st FROM orders),
         |v4r AS (
         |  SELECT o_orderkey, o_custkey,
         |    CASE WHEN o_orderkey % 6 = 1 THEN 'R' ELSE o_orderstatus END AS st
         |  FROM orders
         |  UNION ALL
         |  SELECT o_orderkey + 2147483648, o_custkey, 'A'
         |  FROM orders WHERE o_orderkey % 10 = 7),
         |m3i AS (SELECT o_orderkey, o_custkey, 'R' AS st
         |  FROM orders WHERE o_orderkey % 6 = 1),
         |m3d AS (SELECT o_orderkey, o_custkey, o_orderstatus AS st
         |  FROM orders WHERE o_orderkey % 6 = 1),
         |a4 AS (SELECT o_orderkey + 2147483648 AS o_orderkey, o_custkey, 'A' AS st
         |  FROM orders WHERE o_orderkey % 10 = 7),
         |pr AS (SELECT * FROM v4r WHERE o_orderkey >= 4096 AND o_orderkey < 12288),
         |h1 AS (${h60("v1r")}),
         |h4 AS (${h60("v4r")}),
         |hi3 AS (${h60("m3i")}),
         |hd3 AS (${h60("m3d")}),
         |ha AS (${h60("a4")}),
         |hp AS (${h60("pr")}),
         |agg AS (
         |  SELECT 'feed' AS section, 'v0001_delete' AS label,
         |    CAST(0 AS BIGINT) AS m1, CAST(0 AS BIGINT) AS m2, CAST(0 AS BIGINT) AS m3
         |  UNION ALL SELECT 'feed', 'v0001_insert', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h1
         |  UNION ALL SELECT 'feed', 'v0002_delete', 0, 0, 0
         |  UNION ALL SELECT 'feed', 'v0002_insert', 0, 0, 0
         |  UNION ALL SELECT 'feed', 'v0003_delete', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hd3
         |  UNION ALL SELECT 'feed', 'v0003_insert', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM hi3
         |  UNION ALL SELECT 'feed', 'v0004_delete', 0, 0, 0
         |  UNION ALL SELECT 'feed', 'v0004_insert', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM ha
         |  UNION ALL SELECT 'prune', 'mid', count(*),
         |    CAST(coalesce(bit_xor(h), 0) AS BIGINT),
         |    CAST(coalesce(sum(h % 1000000000000), 0) AS BIGINT) FROM hp
         |  UNION ALL SELECT 'read', 'v0001', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h1
         |  UNION ALL SELECT 'read', 'v0002', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h1
         |  UNION ALL SELECT 'read', 'v0004', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h4
         |  UNION ALL SELECT 'state', 'meta', 1, 4, 1)
         |SELECT * FROM agg ORDER BY section, label""".stripMargin
    },
    // q175: the narrow fold is the original (int prints like long),
    // the widened fold trades the mod-9 rows' cust for +3e9/'W', the
    // schema row is protocol constants (v1 int, v2 long, narrowing
    // refused).
    "q175_type_widening" -> {
      def h60(src: String) =
        s"""SELECT list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(c AS VARCHAR) || '|' || o_orderstatus), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x) AS h FROM $src""".stripMargin
      s"""WITH v1r AS (
         |  SELECT o_orderkey, o_custkey AS c, o_orderstatus FROM orders),
         |v2r AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 9 = 0 THEN o_custkey + 3000000000 ELSE o_custkey END AS c,
         |    CASE WHEN o_orderkey % 9 = 0 THEN 'W' ELSE o_orderstatus END AS o_orderstatus
         |  FROM orders),
         |h1 AS (${h60("v1r")}),
         |h2 AS (${h60("v2r")}),
         |agg AS (
         |  SELECT 'read_v1_narrow' AS section, 'fold' AS label, count(*) AS m1,
         |    CAST(bit_xor(h) AS BIGINT) AS m2,
         |    CAST(sum(h % 1000000000000) AS BIGINT) AS m3 FROM h1
         |  UNION ALL SELECT 'read_v2_widened', 'fold', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h2
         |  UNION ALL SELECT 'schema', 'types', 1, 1, 1)
         |SELECT * FROM agg ORDER BY section""".stripMargin
    },
    // q165: the oracle is the PLAIN join — identical output proves
    // the persisted bucketing changed nothing (the q17 discipline).
    "q165_bucketed_join" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // q164: v2's content restated as unchanged ∪ modified ∪ inserted
    // (the upsert contract — replaced rows GONE); file/bucket/delta
    // counts restated from residue-7 bucket arithmetic (+2^30 on the
    // key shifts buckets by 2^20, never colliding with old ones).
    "q164_merge" -> {
      def canonH(cols: String) =
        s"""list_reduce(list_transform(generate_series(1, 15),
           |      i -> CAST(strpos('0123456789abcdef', substr(md5($cols), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, x) -> a * 16 + x)""".stripMargin
      val canon = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
        "o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
      s"""WITH v2rows AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_totalprice
         |  FROM orders WHERE o_orderkey % 7 <> 0
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, 'U', o_orderdate, o_totalprice + 1.0
         |  FROM orders WHERE o_orderkey % 7 = 0
         |  UNION ALL
         |  SELECT o_orderkey + 1073741824, o_custkey, 'N', o_orderdate, o_totalprice
         |  FROM orders WHERE o_orderkey % 7 = 3),
         |h1 AS (SELECT ${canonH(canon)} AS h FROM orders),
         |h2 AS (SELECT ${canonH(canon)} AS h FROM v2rows),
         |rd AS (
         |  SELECT 'read' AS section, 'v0001' AS label, count(*) AS m1,
         |    CAST(bit_xor(h) AS BIGINT) AS m2,
         |    CAST(sum(h % 1000000000000) AS BIGINT) AS m3 FROM h1
         |  UNION ALL
         |  SELECT 'read', 'v0002', count(*),
         |    CAST(bit_xor(h) AS BIGINT), CAST(sum(h % 1000000000000) AS BIGINT) FROM h2),
         |oldb AS (SELECT count(DISTINCT o_orderkey // 8192) AS n FROM orders),
         |newb AS (SELECT count(DISTINCT o_orderkey // 8192) AS n FROM orders WHERE o_orderkey % 7 = 3),
         |tch AS (SELECT count(DISTINCT o_orderkey // 8192) AS n FROM orders WHERE o_orderkey % 7 = 0),
         |fl AS (
         |  SELECT 'files' AS section, 'v0001' AS label,
         |    CAST((SELECT n FROM oldb) AS BIGINT) AS m1,
         |    CAST((SELECT n FROM oldb) AS BIGINT) AS m2,
         |    (SELECT count(*) FROM orders) AS m3
         |  UNION ALL
         |  SELECT 'files', 'v0002',
         |    CAST((SELECT n FROM oldb) + (SELECT n FROM newb) AS BIGINT),
         |    CAST((SELECT n FROM oldb) + (SELECT n FROM newb) AS BIGINT),
         |    (SELECT count(*) FROM v2rows)),
         |dl AS (
         |  SELECT 'delta' AS section, 'files' AS label,
         |    CAST((SELECT n FROM oldb) - (SELECT n FROM tch) AS BIGINT) AS m1,
         |    CAST((SELECT n FROM tch) + (SELECT n FROM newb) AS BIGINT) AS m2,
         |    CAST((SELECT n FROM tch) AS BIGINT) AS m3)
         |SELECT * FROM rd UNION ALL SELECT * FROM fl UNION ALL SELECT * FROM dl
         |ORDER BY section, label""".stripMargin
    },
    // q163: every field restated straight off orders — equality
    // proves the ORC write -> read round trip preserved timestamps
    // (micros), decimals (exact cents), booleans, binary, arrays,
    // maps and nested structs.
    "q163_orc_roundtrip" ->
      """SELECT o_orderkey,
        |  o_orderstatus AS status,
        |  epoch_us(o_orderdate) AS ts_us,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |  o_orderkey % 2 = 0 AS b,
        |  upper(md5(CAST(o_orderkey AS VARCHAR))) AS bin_hex,
        |  o_orderkey || ',' || o_custkey AS arr_s,
        |  o_custkey AS mk,
        |  o_orderpriority AS p,
        |  o_orderkey % 9 AS n
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "q16_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    // q17: the oracle is the UNSALTED join on purpose — identical
    // output proves the salt explode/probe loses and duplicates
    // nothing.
    "q17_salted_join" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q15_pivot_segments" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS automobile,
        |  CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS building,
        |  CAST(sum(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS furniture,
        |  CAST(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS household,
        |  CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS machinery
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '2001-01-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(DISTINCT c_custkey) AS n_customers,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '2000-01-01' AND o_orderdate < TIMESTAMP '2001-01-01'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q03_broadcast_part_agg" ->
      """SELECT p_brand,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q04_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q05_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3
        |ORDER BY o_custkey, rnk""".stripMargin,
    "q06_selective_filter" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_quantity >= 5 AND l_quantity <= 15
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_shipdate >= TIMESTAMP '2000-01-01' AND l_shipdate < TIMESTAMP '2001-01-01'""".stripMargin,
    "q07_distinct_segments" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    "q08_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q09_anti_join" ->
      """SELECT c_nationkey, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q10_rollup" ->
      """SELECT coalesce(n_name, 'ALL') AS nation,
        |  coalesce(c_mktsegment, 'ALL') AS segment,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal,
        |  count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, c_mktsegment)
        |ORDER BY nation, segment""".stripMargin,
    "q11_merge_attrs" ->
      """WITH attrs AS (
        |  SELECT c_nationkey,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
        |    count(*) AS population
        |  FROM customer GROUP BY c_nationkey),
        |merged AS (
        |  SELECT n_nationkey, n_name, r_name,
        |    coalesce(total_acctbal, 0.0) AS total_acctbal,
        |    coalesce(population, 0) AS population
        |  FROM nation
        |  JOIN region ON n_regionkey = r_regionkey
        |  LEFT JOIN attrs ON n_nationkey = c_nationkey)
        |SELECT * FROM (
        |  SELECT * FROM merged WHERE r_name = 'EUROPE'
        |  UNION ALL
        |  SELECT * FROM merged WHERE r_name = 'ASIA')
        |ORDER BY n_nationkey""".stripMargin,
    "q12_dedup_idxmax" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber) AS rn
        |  FROM lineitem) t
        |WHERE rn = 1
        |ORDER BY l_orderkey""".stripMargin,
    "q13_supplier_parts" ->
      """SELECT n_name, p_type,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_supp_acctbal,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 25
        |GROUP BY n_name, p_type
        |ORDER BY n_name, p_type""".stripMargin,
    "q14_priority_tax" ->
      """SELECT o_orderpriority,
        |  CASE WHEN l_tax <= 0.02 THEN 'low'
        |       WHEN l_tax <= 0.05 THEN 'mid' ELSE 'high' END AS tax_bucket,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS tax_amount,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority,
        |  CASE WHEN l_tax <= 0.02 THEN 'low'
        |       WHEN l_tax <= 0.05 THEN 'mid' ELSE 'high' END
        |ORDER BY o_orderpriority, tax_bucket""".stripMargin
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.{FunctionInjection, PlanBridge}

/** The SQL `MERGE INTO` engine — the CDC apply step as one atomic
  * table commit (reference main.py:96's dedup-merge is the same
  * upsert family at single-node scale; the SQL surface follows the
  * public Delta/Iceberg MERGE semantics):
  *
  *  - WHEN MATCHED [AND c] THEN UPDATE SET ... / DELETE
  *  - WHEN NOT MATCHED [AND c] THEN INSERT ...
  *  - WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE / DELETE
  *
  * Two execution shapes, picked by the statement itself:
  *
  *  1. THE UPSERT FAST PATH — `ON` is an equality conjunction over
  *     key columns, one unconditional `UPDATE SET *`-equivalent and
  *     one unconditional `INSERT *`-equivalent whose per-column
  *     expressions agree: dispatches to the LAYOUT's own merge
  *     ([[Snapshots.merge]] / [[ZOrderTable.merge]] /
  *     [[HashBucketedTable.merge]] / [[BucketedTable.merge]]) — the
  *     pruned rewrite that only touches the buckets/cells the keys
  *     hit. This is THE warehouse CDC apply, and it works on every
  *     layout.
  *  2. THE GENERAL PATH (flat tables) — arbitrary conditions and
  *     per-action predicates, Delta's group-based copy-on-write:
  *     one inner join finds the AFFECTED FILES (and enforces the SQL
  *     cardinality rule: a target row matched by more than one source
  *     row refuses when update/delete actions exist), only those
  *     files rewrite through the first-firing-action CASE chains,
  *     inserts append, ONE commit replaces the touched files. Cost ∝
  *     touched data + two target scans (match + insert anti-join),
  *     never table size × actions. Clustered layouts REFUSE the
  *     general shape (a rewritten z/hash file needs its epoch
  *     arithmetic re-derived — re-publish or use the upsert shape);
  *     INSERT-only merges dispatch to the layout append on any
  *     layout.
  *
  * Driver traffic is bounded by FILE COUNT (the per-file fire/dup
  * aggregate and the touched-file list) — the matched pairs
  * themselves never collect. */
object MergeInto {

  sealed trait Kind
  case object Update extends Kind
  case object Delete extends Kind
  case object Insert extends Kind

  /** One resolved WHEN clause: the extra fire condition (None =
    * always fires) and the per-TARGET-column assignment expressions
    * (empty for DELETE; partial for a partial UPDATE SET). */
  case class Act(cond: Option[Expression], kind: Kind,
                 assigns: Map[String, Expression])

  /** Execute a resolved MERGE against the table at `dir`. `targetOutput`
    * carries the attribute ids the condition/assignments reference —
    * the engine re-binds the table's physical read onto them (the
    * [[graft.sources.GraftRelationRule]] aliasing trick), so the
    * analyzer's expressions evaluate unchanged. Returns the committed
    * version (or the previous one when nothing matched and nothing
    * inserted). */
  def run(spark: SparkSession, dir: String, targetOutput: Seq[Attribute],
          source: LogicalPlan, condition: Expression,
          matched: Seq[Act], notMatched: Seq[Act],
          notMatchedBySource: Seq[Act]): Long = {
    val prev = Snapshots.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no committed snapshots — not a graft table"))
    val layout = NamedTables.layoutAt(spark, dir, prev)
    val sourceDf = PlanBridge.ofRows(spark, source)
    val cond = FunctionInjection.columnOf(condition)

    upsertKeys(targetOutput, condition, matched, notMatched,
        notMatchedBySource) match {
      case Some(keys) =>
        val updates = sourceDf.select(targetOutput.map(o =>
          FunctionInjection.columnOf(matched.head.assigns(o.name))
            .cast(o.dataType).as(o.name)): _*)
        upsertCardinalityCheck(spark, dir, prev, updates, keys)
        dispatchUpsert(spark, dir, prev, layout, updates, keys)
      case None if matched.isEmpty && notMatchedBySource.isEmpty =>
        // INSERT-only merge: a layout-dispatched append of the
        // non-matching source rows — no target file rewrites at all
        val inserts = buildInserts(sourceDf,
          targetAliased(spark, dir, prev, targetOutput), cond,
          notMatched, targetOutput)
        if (inserts.isEmpty) prev
        else NamedTables.insertInto(spark, dir, inserts)
      case None if layout == "flat" =>
        general(spark, dir, prev, targetOutput, sourceDf, cond,
          matched, notMatched, notMatchedBySource)
      case None => throw new IllegalArgumentException(
        s"general-shape MERGE INTO is not supported on a $layout-layout " +
          s"table ($dir) — rewritten files would lose their layout " +
          "epochs. Use the upsert shape (ON equality over keys, " +
          "unconditional UPDATE SET * + INSERT *), which dispatches to " +
          "the layout's own pruned merge, or the layout publish APIs")
    }
  }

  /** SQL `UPDATE t SET ... [WHERE cond]` — the file-granular
    * copy-on-write sibling of the MERGE general path (no join, no
    * cardinality concerns): one stats-pruned pass finds the files
    * holding matches (conjuncts of `cond` push into the manifest
    * scan's file pruning for free), ONLY those files rewrite through
    * a per-column `CASE WHEN cond THEN value ELSE old END`, one
    * commit replaces them. Flat tables only — a rewritten z/hash file
    * would lose its layout epochs; update clustered tables through
    * the MERGE upsert shape or the layout APIs. */
  def update(spark: SparkSession, dir: String, targetOutput: Seq[Attribute],
             condition: Option[Expression],
             assigns: Map[String, Expression]): Long = {
    require(assigns.nonEmpty, "UPDATE needs at least one assignment")
    val prev = Snapshots.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no committed snapshots — not a graft table"))
    val layout = NamedTables.layoutAt(spark, dir, prev)
    require(layout == "flat",
      s"UPDATE is not supported on a $layout-layout table ($dir) — " +
        "rewritten files would lose their layout epochs; use the MERGE " +
        "upsert shape or the layout's own merge APIs")
    val pm = Snapshots.manifest(spark, dir, prev)
    val ps = pm.schemaOpt.getOrElse(throw new IllegalArgumentException(
      s"$dir predates manifest format 2 — UPDATE needs a recorded schema"))
    val (bucketCol, sortCols) =
      (pm.props.get("maintain.bucket"), pm.props.get("maintain.sort")) match {
        case (Some(b), Some(s)) => (b, s.split(",").toSeq.filter(_.nonEmpty))
        case _ => throw new IllegalArgumentException(
          "UPDATE needs the flat table's write layout declared as " +
            s"maintain.bucket/maintain.sort table properties ($dir)")
      }
    val cond = condition.map(FunctionInjection.columnOf).getOrElse(lit(true))
    def tPos(rels: Seq[String]): DataFrame = aliasOnto(spark,
      Snapshots.readFiles(spark, dir, rels, pm.schemaOpt, pm.colMap,
        pm.fileSizes, Snapshots.statsPruner(pm), dv = pm.dvs, withPos = true),
      targetOutput, keep = Seq(Snapshots.FileCol, Snapshots.PosCol))
    // job 1 — the files holding matches (pushed conjuncts of the
    // condition file-prune via the manifest's typed stats; the
    // distinct is bounded by file count)
    val touched = tPos(pm.files).filter(cond)
      .select(Snapshots.FileCol).distinct().collect().map(_.getString(0))
    if (touched.isEmpty) return prev
    val touchedSet = touched.toSet
    // job 2 — rewrite ONLY those files
    val rewritten = tPos(pm.files.filter(touchedSet)).select(
      targetOutput.map { o =>
        val orig = FunctionInjection.columnOf(o)
        assigns.get(o.name) match {
          case Some(e) => when(cond,
            FunctionInjection.columnOf(e).cast(o.dataType))
            .otherwise(orig).as(o.name)
          case None => orig.as(o.name)
        }
      }: _*)
    val tp = pm.toPhysical
    val st = Snapshots.stage(Snapshots.toPhysicalDf(rewritten, tp), dir,
      tp.getOrElse(bucketCol, bucketCol),
      sortCols.map(c => tp.getOrElse(c, c)), 128L * 1024 * 1024, 32,
      stat2Cols = pm.statCols, ndvCols = pm.ndvCols)
    Snapshots.commitReplacing(spark, dir, pm, prev,
      pm.files.filterNot(touchedSet), st, Snapshots.nullable(ps).json)
  }

  // ---- the upsert fast path ----

  /** Detect the canonical upsert: `ON` an equality conjunction
    * `t.k = <source expr>` over some key set, exactly one
    * unconditional UPDATE covering every target column, exactly one
    * unconditional INSERT agreeing with it per column, no
    * NOT-MATCHED-BY-SOURCE clauses, and each key's assigned value IS
    * the matched expression (the row cannot relocate to a different
    * key than it matched on). Returns the key column names. */
  private[operators] def upsertKeys(targetOutput: Seq[Attribute],
      condition: Expression, matched: Seq[Act], notMatched: Seq[Act],
      notMatchedBySource: Seq[Act]): Option[Seq[String]] = {
    if (notMatchedBySource.nonEmpty) return None
    (matched, notMatched) match {
      case (Seq(Act(None, Update, u)), Seq(Act(None, Insert, i))) =>
        val tIds = targetOutput.map(_.exprId).toSet
        val covers = targetOutput.forall(o =>
          u.contains(o.name) && i.contains(o.name) &&
            u(o.name).semanticEquals(i(o.name)))
        if (!covers) return None
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case And(l, r) => conjuncts(l) ++ conjuncts(r)
          case x => Seq(x)
        }
        val pairs = conjuncts(condition).map {
          case EqualTo(a: AttributeReference, b)
              if tIds(a.exprId) && b.references.forall(r => !tIds(r.exprId)) =>
            Some(a.name -> b)
          case EqualTo(b, a: AttributeReference)
              if tIds(a.exprId) && b.references.forall(r => !tIds(r.exprId)) =>
            Some(a.name -> b)
          case _ => None
        }
        if (pairs.exists(_.isEmpty) || pairs.isEmpty) None
        else {
          val kv = pairs.flatten
          // the updated key must BE the matched key expression
          if (kv.forall { case (k, src) => u(k).semanticEquals(src) })
            Some(kv.map(_._1).distinct)
          else None
        }
      case _ => None
    }
  }

  /** The SQL cardinality rule on the fast path: duplicate source keys
    * that MATCH an existing row would both replace it — refuse like
    * the standard demands (duplicate keys that match nothing are
    * plain double inserts, which SQL allows). One aggregate over the
    * update batch; the existence probe runs only when duplicates
    * exist at all. */
  private def upsertCardinalityCheck(spark: SparkSession, dir: String,
      prev: Long, updates: DataFrame, keys: Seq[String]): Unit = {
    val dups = updates.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__gmerge_n"))
      .filter(col("__gmerge_n") > 1).drop("__gmerge_n")
    if (!dups.isEmpty) {
      val existing = NamedTables.readNamed(spark, dir, Some(prev))
        .select(keys.map(col): _*)
      if (!existing.join(dups, keys, "left_semi").isEmpty)
        throw new IllegalArgumentException(
          "MERGE cardinality violation: more than one source row matches " +
            s"the same target row on (${keys.mkString(", ")}) — dedup the " +
            "source first (e.g. the q12 idxmax keep-latest)")
    }
  }

  private def dispatchUpsert(spark: SparkSession, dir: String, prev: Long,
      layout: String, updates: DataFrame, keys: Seq[String]): Long =
    layout match {
      case "z" => ZOrderTable.merge(updates, dir, keys)
      case "hash" => HashBucketedTable.merge(updates, dir, keys)
      case "width" => BucketedTable.merge(updates, dir, keys)
      case _ =>
        val props = Snapshots.propsAt(spark, dir, prev)
        (props.get("maintain.bucket"), props.get("maintain.sort")) match {
          case (Some(b), Some(s)) =>
            Snapshots.merge(updates, dir, b, keys,
              s.split(",").toSeq.filter(_.nonEmpty))
          case _ => throw new IllegalArgumentException(
            "MERGE INTO needs the flat table's write layout declared as " +
              s"maintain.bucket/maintain.sort table properties ($dir)")
        }
    }

  // ---- the general copy-on-write path (flat tables) ----

  private val SMark = "__gmerge_smark"

  /** The table read re-bound onto the analyzer's target attribute ids
    * (no positions — the insert anti-join side). */
  private def targetAliased(spark: SparkSession, dir: String, prev: Long,
      targetOutput: Seq[Attribute]): DataFrame = {
    val read = NamedTables.readNamed(spark, dir, Some(prev))
    aliasOnto(spark, read, targetOutput, keep = Nil)
  }

  private def aliasOnto(spark: SparkSession, df: DataFrame,
      targetOutput: Seq[Attribute], keep: Seq[String]): DataFrame = {
    val child = df.queryExecution.analyzed
    val byName = child.output.map(a => a.name -> a).toMap
    val aliased = targetOutput.map { o =>
      val a = byName.getOrElse(o.name, throw new IllegalStateException(
        s"merge target lost column ${o.name} — was the table rewritten " +
          "under this statement?"))
      Alias(a, o.name)(exprId = o.exprId)
    }
    val kept = keep.map(byName(_))
    PlanBridge.ofRows(spark,
      Project(aliased.map(a => a: org.apache.spark.sql.catalyst.expressions.NamedExpression) ++ kept, child))
  }

  /** First-firing-action CASE chain for the `keep this row` bit. */
  private def chainKeep(acts: Seq[Act]): Column =
    acts.foldRight(lit(true)) { (a, els) =>
      val fire = a.cond.map(FunctionInjection.columnOf).getOrElse(lit(true))
      when(fire, lit(a.kind != Delete)).otherwise(els)
    }

  /** First-firing-action CASE chain for one output column's value —
    * a DELETE branch keeps the original value (the row is dropped by
    * the keep chain, but the branch must still CLAIM its position so
    * a later update cannot fire past it). */
  private def chainVal(acts: Seq[Act], o: Attribute, orig: Column): Column =
    acts.foldRight(orig) { (a, els) =>
      val fire = a.cond.map(FunctionInjection.columnOf).getOrElse(lit(true))
      val value = a.kind match {
        case Update => a.assigns.get(o.name)
          .map(e => FunctionInjection.columnOf(e).cast(o.dataType))
          .getOrElse(orig)
        case _ => orig
      }
      when(fire, value).otherwise(els)
    }

  /** Source rows matching NO target row, run through the not-matched
    * chains (a row firing no INSERT action is dropped), projected to
    * the target schema. */
  private def buildInserts(sourceDf: DataFrame, target: DataFrame,
      cond: Column, notMatched: Seq[Act],
      targetOutput: Seq[Attribute]): DataFrame = {
    val anti = sourceDf.join(target, cond, "left_anti")
    val keep = notMatched.foldRight(lit(false)) { (a, els) =>
      val fire = a.cond.map(FunctionInjection.columnOf).getOrElse(lit(true))
      when(fire, lit(true)).otherwise(els)
    }
    anti.filter(keep).select(targetOutput.map { o =>
      notMatched.foldRight(lit(null).cast(o.dataType)) { (a, els) =>
        val fire = a.cond.map(FunctionInjection.columnOf).getOrElse(lit(true))
        val value = a.assigns.get(o.name)
          .map(e => FunctionInjection.columnOf(e).cast(o.dataType))
          .getOrElse(lit(null).cast(o.dataType))
        when(fire, value).otherwise(els)
      }.as(o.name)
    }: _*)
  }

  private def general(spark: SparkSession, dir: String, prev: Long,
      targetOutput: Seq[Attribute], sourceDf0: DataFrame, cond: Column,
      matched: Seq[Act], notMatched: Seq[Act], nmbs: Seq[Act]): Long = {
    // MATERIALIZE the source once (guide §5 — the mergeImpl
    // discipline): the general path consumes it through up to four
    // independent actions (the per-file fire/dup aggregate, the
    // not-matched-by-source file scan, the touched-file rewrite, the
    // insert anti-join), each otherwise replaying its full upstream
    // plan. MERGE sources are churn-sized; caller-persisted frames
    // are left alone and the persist releases in the finally.
    import org.apache.spark.storage.StorageLevel
    val srcOwned = sourceDf0.storageLevel == StorageLevel.NONE
    val sourceDf =
      if (srcOwned) sourceDf0.persist(StorageLevel.MEMORY_AND_DISK)
      else sourceDf0
    try generalBody(spark, dir, prev, targetOutput, sourceDf, cond,
      matched, notMatched, nmbs)
    finally { if (srcOwned) sourceDf.unpersist(false) }
  }

  private def generalBody(spark: SparkSession, dir: String, prev: Long,
      targetOutput: Seq[Attribute], sourceDf: DataFrame, cond: Column,
      matched: Seq[Act], notMatched: Seq[Act], nmbs: Seq[Act]): Long = {
    val pm = Snapshots.manifest(spark, dir, prev)
    val ps = pm.schemaOpt.getOrElse(throw new IllegalArgumentException(
      s"$dir predates manifest format 2 — MERGE needs a recorded schema"))
    val schemaJson = Snapshots.nullable(ps).json
    val props = pm.props
    val (bucketCol, sortCols) =
      (props.get("maintain.bucket"), props.get("maintain.sort")) match {
        case (Some(b), Some(s)) => (b, s.split(",").toSeq.filter(_.nonEmpty))
        case _ => throw new IllegalArgumentException(
          "MERGE INTO needs the flat table's write layout declared as " +
            s"maintain.bucket/maintain.sort table properties ($dir)")
      }
    def tPos(rels: Seq[String]): DataFrame = aliasOnto(spark,
      Snapshots.readFiles(spark, dir, rels, pm.schemaOpt, pm.colMap,
        pm.fileSizes, dv = pm.dvs, withPos = true),
      targetOutput, keep = Seq(Snapshots.FileCol, Snapshots.PosCol))
    val t = tPos(pm.files)

    // job 1 — the matched pairs, reduced to ONE row per file on the
    // driver: duplicate-match counts (the SQL cardinality rule) and
    // whether any matched action fires in that file. With
    // NOT-MATCHED-BY-SOURCE clauses present the SAME pass also finds
    // their touched files (guide §1.2/§2.4 — this was a second full
    // target scan through a left_anti join): the join turns
    // left_outer, a null source marker IS the no-match bit, and
    // unmatched rows group under a NULL position per file so the
    // map-side partial aggregation collapses them before the
    // exchange (the shuffle carries matched pairs + ~one row per
    // (file, partition), never the full table).
    val fireMatched = matched.map(a =>
        a.cond.map(FunctionInjection.columnOf).getOrElse(lit(true)))
      .reduceOption(_ || _).getOrElse(lit(false))
    val fireNmbs = nmbs.map(a =>
        a.cond.map(FunctionInjection.columnOf).getOrElse(lit(true)))
      .reduceOption(_ || _).getOrElse(lit(false))
    val (perFile, fNmbsJoint) =
      if (matched.isEmpty) (Array.empty[(String, Long, Boolean)], None)
      else if (nmbs.isEmpty)
        (t.join(sourceDf, cond, "inner")
          .select(col(Snapshots.FileCol), col(Snapshots.PosCol),
            coalesce(fireMatched, lit(false)).as("__gmerge_fire"))
          .groupBy(Snapshots.FileCol, Snapshots.PosCol)
          .agg(count(lit(1)).as("__gmerge_n"),
            max(col("__gmerge_fire").cast("int")).as("__gmerge_f"))
          .groupBy(Snapshots.FileCol)
          .agg(sum((col("__gmerge_n") > 1).cast("int")).as("__gmerge_dups"),
            max(col("__gmerge_f")).as("__gmerge_fire"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getInt(2) == 1)), None)
      else {
        val isM = col(SMark).isNotNull
        val rows = t.join(sourceDf.withColumn(SMark, lit(1)), cond,
            "left_outer")
          .select(col(Snapshots.FileCol),
            when(isM, col(Snapshots.PosCol)).as("__gmerge_pos"),
            (isM && coalesce(fireMatched, lit(false)))
              .cast("int").as("__gmerge_fire"),
            (!isM && coalesce(fireNmbs, lit(false)))
              .cast("int").as("__gmerge_fn"))
          .groupBy(col(Snapshots.FileCol), col("__gmerge_pos"))
          .agg(count(col("__gmerge_pos")).as("__gmerge_n"),
            max(col("__gmerge_fire")).as("__gmerge_f"),
            max(col("__gmerge_fn")).as("__gmerge_fnx"))
          .groupBy(Snapshots.FileCol)
          .agg(sum((col("__gmerge_n") > 1).cast("int")).as("__gmerge_dups"),
            max(col("__gmerge_f")).as("__gmerge_fire"),
            max(col("__gmerge_fnx")).as("__gmerge_fn"))
          .collect()
        (rows.map(r => (r.getString(0), r.getLong(1), r.getInt(2) == 1)),
          Some(rows.filter(_.getInt(3) == 1).map(_.getString(0))))
      }
    val dupRows = perFile.map(_._2).sum
    if (dupRows > 0)
      throw new IllegalArgumentException(
        s"MERGE cardinality violation: $dupRows target row(s) match more " +
          "than one source row while UPDATE/DELETE actions exist — dedup " +
          "the source first (e.g. the q12 idxmax keep-latest)")
    val fMatched = perFile.filter(_._3).map(_._1)
    val fNmbs =
      if (nmbs.isEmpty) Array.empty[String]
      else fNmbsJoint.getOrElse {
        t.join(sourceDf, cond, "left_anti").filter(fireNmbs)
          .select(Snapshots.FileCol).distinct().collect().map(_.getString(0))
      }
    val touchedSet = (fMatched ++ fNmbs).toSet
    val touched = pm.files.filter(touchedSet)

    // job 2 — rewrite ONLY the touched files through the CASE chains
    val rewritten =
      if (touched.isEmpty) None
      else {
        val tF = tPos(touched)
        // With matched actions, job 1's cardinality aggregate already
        // guarantees ≤ 1 source match per target row, so the outer
        // join cannot fan out. WITHOUT matched actions that guard
        // never ran — and SQL says a multi-matched target row is
        // simply KEPT (once) — so the marker must come from a
        // DEDUPLICATED matched-position set, not the raw join, or an
        // NMBS-touched file would duplicate its matched rows.
        val joined =
          if (matched.nonEmpty) tF.join(
            sourceDf.withColumn(SMark, lit(1)), cond, "left_outer")
          else {
            val mPos = tF.join(sourceDf, cond, "left_semi")
              .select(col(Snapshots.FileCol), col(Snapshots.PosCol))
              .distinct().withColumn(SMark, lit(1))
            tF.join(mPos, Seq(Snapshots.FileCol, Snapshots.PosCol),
              "left_outer")
          }
        val isM = col(SMark).isNotNull
        val keep = when(isM, chainKeep(matched)).otherwise(chainKeep(nmbs))
        Some(joined.filter(keep).select(targetOutput.map { o =>
          val orig = FunctionInjection.columnOf(o)
          when(isM, chainVal(matched, o, orig))
            .otherwise(chainVal(nmbs, o, orig)).cast(o.dataType).as(o.name)
        }: _*))
      }

    // job 3 — the inserts (anti-join against the FULL target)
    val inserts =
      if (notMatched.isEmpty) None
      else Some(buildInserts(sourceDf, t, cond, notMatched, targetOutput))

    val newData = (rewritten, inserts) match {
      case (Some(r), Some(i)) => Some(r.unionByName(i))
      case (r, i) => r.orElse(i)
    }
    // ONE insert-only probe (a limit-1 job), shared by the changed
    // check and the staging guard; touched.nonEmpty short-circuits it
    lazy val newNonEmpty = newData.exists(d => !d.isEmpty)
    val changed = touched.nonEmpty || newNonEmpty
    if (!changed) return prev
    val tp = pm.toPhysical
    val st = newData match {
      case Some(d) if touched.nonEmpty || newNonEmpty =>
        val phys = Snapshots.toPhysicalDf(d, tp)
        // an all-delete rewrite can empty the touched set entirely;
        // untouched insert-only merges skip the probe (newNonEmpty
        // already proved rows exist, and toPhysicalDf only renames)
        if (touched.nonEmpty && phys.isEmpty)
          Snapshots.Staged(Nil, schemaJson, Nil)
        else Snapshots.stage(phys, dir, tp.getOrElse(bucketCol, bucketCol),
          sortCols.map(c => tp.getOrElse(c, c)), 128L * 1024 * 1024, 32,
          stat2Cols = pm.statCols, ndvCols = pm.ndvCols)
      case _ => Snapshots.Staged(Nil, schemaJson, Nil)
    }
    Snapshots.commitReplacing(spark, dir, pm, prev,
      pm.files.filterNot(touchedSet), st, schemaJson)
  }
}

package graft.plans

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertStarAction, LogicalPlan, MergeAction, SubqueryAlias, UpdateStarAction}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, when}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

import graft.lakehouse.VersionedTable

/** SQL DML over [[VersionedTable]] roots — the write half of the SQL
  * surface (the read half being the `graft_*` table functions).
  *
  * ```sql
  * DELETE FROM graft.`/data/events` WHERE ts < '2020-01-01';
  * UPDATE graft.`/data/users` SET status = 'gone' WHERE id = 7;
  * MERGE INTO graft.`/data/users` t USING updates s
  *   ON t.id = s.id
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *;
  * ```
  *
  * Spark's OWN parser does all the parsing (these are the standard v2
  * DML plans); [[GraftSqlParser]] rewrites plans whose target is the
  * two-part name `graft.<root path>` onto these commands, and each
  * command runs the corresponding crash-safe [[VersionedTable.rewrite]]
  * — visibility is the usual one-object manifest PUT, a reader mid-scan
  * on the previous version survives, and time travel across the DML
  * works within the retention window (`spark.graft.dml.keepVersions`).
  * The manifest's data-skipping payload is PRESERVED: whatever
  * stats/bloom columns the current version carries are re-collected
  * for the post-DML version, so a DELETE never silently degrades
  * point-lookup or range pruning.
  *
  * MERGE supports the upsert idiom (unconditional `UPDATE SET *` /
  * `INSERT *` / `DELETE` actions, ON = conjunction of same-named
  * column equalities); conditional or column-list actions fail loudly
  * at parse time. Sources with duplicate keys are refused at run time
  * (a multi-match MERGE would silently duplicate target rows).
  */
object GraftDml {

  /** Matches a DML target of the form `graft.<path>`, with or without
    * an alias, e.g. `DELETE FROM graft.`/tmp/t` x WHERE x.k = 1`. */
  object GraftTarget {
    def unapply(plan: LogicalPlan): Option[(String, Option[String])] =
      plan match {
        case SubqueryAlias(id, UnresolvedRelation(Seq(g, path), _, _))
            if g.equalsIgnoreCase("graft") => Some((path, Some(id.name)))
        case UnresolvedRelation(Seq(g, path), _, _)
            if g.equalsIgnoreCase("graft") => Some((path, None))
        case _ => None
      }
  }

  /** Opaque carrier for parsed (still-unresolved) expressions: a
    * plain field of `Expression` type on a command node is traversed
    * by `QueryPlan.expressions`, so the analyzer would try (and fail)
    * to resolve DML predicates against the command's nonexistent
    * children. Wrapped, they stay invisible until [[run]] builds the
    * DataFrame plans they actually resolve against. */
  final case class Raw[T](value: T)

  private[plans] def fail(message: String): Nothing =
    throw new AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_3100",
      messageParameters = Map("message" -> message))

  /** The stats/bloom columns the CURRENT manifest carries — re-collect
    * these for the post-DML version so skipping never degrades. */
  private[plans] def carriedIndex(spark: SparkSession,
      root: String): (Seq[String], Seq[String]) =
    VersionedTable.currentVersion(spark, root) match {
      case None => (Nil, Nil)
      case Some(v) =>
        val st = VersionedTable.manifestStats(spark, root, v)
        val stats = st.flatMap(s => s.min.keys ++ s.max.keys).distinct
        val blooms = VersionedTable.manifestBlooms(spark, root, v)
          .keys.map(_._2).toSeq.distinct
        (stats, blooms)
    }

  private[plans] def keepVersions(spark: SparkSession): Int =
    spark.conf.get("spark.graft.dml.keepVersions", "1").toInt

  /** DML write strategy: `cow` (default) rewrites the affected files;
    * `mor` hides affected rows behind a deletion vector (one tiny
    * parquet + one manifest PUT, zero data-file rewrites — the right
    * price when deletes touch a sliver of many files). Flat/legacy
    * tables always take the migrating CoW path. */
  private[plans] def morMode(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.dml.mode", "cow").toLowerCase match {
      case "cow" => false
      case "mor" => true
      case other => fail(s"spark.graft.dml.mode must be cow|mor, got: $other")
    }

  /** FILE-GRANULAR DML mutation: only the files that actually contain
    * rows selected by `affectedRows` are rewritten (through
    * `rewriteFile`); every other file is carried into the new version
    * by manifest reference — at 100 TB a DELETE touching 2 of 10 000
    * files costs 2 file rewrites + one manifest PUT, not a table
    * rewrite. `extra` rows (MERGE inserts) land as new files in the
    * same commit. Affected-file discovery is one predicate-pushdown
    * scan grouped by `input_file_name` — parquet stats skip files with
    * no matching row groups, so the scan itself prunes.
    *
    * The manifest's skipping payload is preserved: carried files'
    * stats/blooms copy forward byte-identical inside [[VersionedTable
    * .commitDelta]]; rewritten/new files re-collect whatever columns
    * the current manifest indexes. A no-op mutation (nothing affected,
    * nothing to add) commits NO new version. Flat/legacy tables fall
    * back to a full migrating rewrite. Returns (before, after). */
  private[plans] def mutateFiles(spark: SparkSession, root: String)(
      affectedRows: DataFrame => DataFrame,
      rewriteFile: DataFrame => DataFrame,
      extra: Option[DataFrame]): (Long, Long) = {
    val before = VersionedTable.read(spark, root).count()
    val (stats, blooms) = carriedIndex(spark, root)
    val kv = keepVersions(spark)
    VersionedTable.currentVersion(spark, root) match {
      case None => // pre-versioning layout: first commit migrates it
        VersionedTable.rewrite(spark, root, kv, stats, blooms) { df =>
          extra.fold(rewriteFile(df))(e => rewriteFile(df).unionByName(e))
        }
      case Some(v) =>
        val files = VersionedTable.currentFiles(spark, root)
        // the DV-aware keyed scan carries the root-relative file ref
        // as a hidden column — single-source-safe even when a join in
        // affectedRows (MERGE's key probe) makes the plan multi-source
        // (input_file_name refuses to bind there), and rows already
        // hidden by a deletion vector can never mark a file affected
        val rel = affectedRows(VersionedTable.scanWithRefs(spark, root))
          .select(col(VersionedTable.DvFileCol)).distinct()
          .collect().map(_.getString(0)).toSet
        val affected = files.filter(rel)
        val carried = files.filterNot(rel)
        if (affected.isEmpty && extra.isEmpty)
          return (before, before) // nothing to do: no new version
        VersionedTable.commitDelta(spark, root, carried, kv,
          stats, blooms) { stage =>
          val pieces =
            (if (affected.nonEmpty)
              // DV-applied read: the rewrite purges the affected
              // files' vectors along with the rows it removes
              Seq(rewriteFile(VersionedTable.readFilesWithDv(spark,
                root, v, affected.map(f => s"$root/$f"))))
            else Nil) ++ extra.toSeq
          pieces.reduce(_ unionByName _).write.parquet(stage)
        }
    }
    val after = VersionedTable.read(spark, root).count()
    (before, after)
  }

  private[plans] def aliased(df: DataFrame, alias: Option[String]): DataFrame =
    alias.fold(df)(df.as(_))

  /** Resolve an assignment key's column name against the target schema
    * (case-insensitive; the qualifier, if any, is the table alias). */
  private[plans] def assignedColumn(columns: Seq[String],
      key: Expression): String = {
    val parts = key match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts
      case other => fail(s"unsupported UPDATE assignment target: ${other.sql}")
    }
    columns.find(_.equalsIgnoreCase(parts.last)).getOrElse(
      fail(s"UPDATE SET target `${parts.mkString(".")}` is not a " +
        s"top-level column of the table (columns: ${columns.mkString(", ")})"))
  }
}

/** `DELETE FROM graft.`root` WHERE cond` — rows where cond is TRUE are
  * removed (NULL keeps, per SQL semantics); returns deleted_rows. */
case class GraftDeleteCommand(root: String, alias: Option[String],
    cond: GraftDml.Raw[Expression]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("deleted_rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val condCol = coalesce(Bridge.column(cond.value), lit(false))
    if (GraftDml.morMode(spark) &&
        VersionedTable.currentVersion(spark, root).nonEmpty) {
      val (stats, blooms) = GraftDml.carriedIndex(spark, root)
      val hidden = VersionedTable.deleteAndAppend(spark, root,
        GraftDml.keepVersions(spark), stats, blooms)(
        df => GraftDml.aliased(df, alias).filter(condCol), None)
      return Seq(Row(hidden))
    }
    val (before, after) = GraftDml.mutateFiles(spark, root)(
      df => GraftDml.aliased(df, alias).filter(condCol),
      df => GraftDml.aliased(df, alias).filter(!condCol),
      None)
    Seq(Row(before - after))
  }
}

/** `UPDATE graft.`root` SET a = e1, b = e2 [WHERE cond]` — every RHS
  * sees the OLD row (one select, not chained withColumn, so
  * `SET a = b, b = a` swaps); returns updated_rows (rows matching
  * cond, whether or not any value changed). */
case class GraftUpdateCommand(root: String, alias: Option[String],
    assignments: GraftDml.Raw[Seq[Assignment]],
    cond: GraftDml.Raw[Option[Expression]]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("updated_rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val condCol: Column = cond.value
      .map(c => coalesce(Bridge.column(c), lit(false))).getOrElse(lit(true))
    val columns = VersionedTable.read(spark, root).columns.toSeq
    val updated = GraftDml.aliased(VersionedTable.read(spark, root), alias)
      .filter(condCol).count()
    val assign: Map[String, Column] = assignments.value.map { a =>
      GraftDml.assignedColumn(columns, a.key) -> Bridge.column(a.value)
    }.toMap
    if (GraftDml.morMode(spark) &&
        VersionedTable.currentVersion(spark, root).nonEmpty) {
      // MoR UPDATE = vector-hide the old rows + append the new images
      // as fresh files, one commit — no untouched row is rewritten
      if (updated > 0) {
        val (stats, blooms) = GraftDml.carriedIndex(spark, root)
        val images = GraftDml
          .aliased(VersionedTable.read(spark, root), alias)
          .filter(condCol)
          .select(columns.map(c =>
            assign.get(c).map(_.as(c)).getOrElse(col(c))): _*)
        VersionedTable.deleteAndAppend(spark, root,
          GraftDml.keepVersions(spark), stats, blooms)(
          df => GraftDml.aliased(df, alias).filter(condCol), Some(images))
      }
      return Seq(Row(updated))
    }
    GraftDml.mutateFiles(spark, root)(
      df => GraftDml.aliased(df, alias).filter(condCol),
      df0 => GraftDml.aliased(df0, alias).select(columns.map { c =>
        assign.get(c) match {
          case Some(v) => when(condCol, v).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*),
      None)
    Seq(Row(updated))
  }
}

/** The upsert-idiom MERGE (see [[GraftDml]]): unconditional
  * `UPDATE SET *` / `DELETE` on match, `INSERT *` on no-match, keys
  * from the ON conjunction's same-named equalities. Returns
  * (matched_rows, rows_before, rows_after) — matched_rows counts
  * TARGET rows hit by the matched action. */
case class GraftMergeCommand(root: String, source: LogicalPlan,
    keys: Seq[String], updateMatched: Boolean, deleteMatched: Boolean,
    insertUnmatched: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("matched_rows", LongType, nullable = false)(),
    AttributeReference("rows_before", LongType, nullable = false)(),
    AttributeReference("rows_after", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val src0 = Bridge.ofRows(spark, source)
    val tgt0 = VersionedTable.read(spark, root)
    val tgtCols = tgt0.columns.toSeq
    val resolvedKeys = keys.map { k =>
      tgtCols.find(_.equalsIgnoreCase(k)).getOrElse(GraftDml.fail(
        s"MERGE key `$k` is not a column of the target " +
          s"(columns: ${tgtCols.mkString(", ")})"))
    }
    // project the source onto the target schema by (ci) name — needed
    // for UPDATE SET * / INSERT *; for pure DELETE only keys needed
    val src =
      if (updateMatched || insertUnmatched) {
        val srcCols = src0.columns.toSeq
        src0.select(tgtCols.map { c =>
          srcCols.find(_.equalsIgnoreCase(c)).map(s => col(s).as(c))
            .getOrElse(GraftDml.fail(
              s"MERGE source lacks target column `$c` required by SET */INSERT *"))
        }: _*)
      } else src0.select(resolvedKeys.map(col): _*)
    // a key matching >1 source row would silently duplicate the target
    val dup = src.groupBy(resolvedKeys.map(col): _*)
      .count().filter(col("count") > 1).limit(1).count()
    if (dup > 0) GraftDml.fail(
      s"MERGE source has duplicate keys on (${resolvedKeys.mkString(", ")}); " +
        "a multi-match merge would duplicate target rows")
    val srcKeys = src.select(resolvedKeys.map(col): _*)

    // matched TARGET rows, counted on the pre-DML version (the
    // change-set is the small side → broadcast anti; parquet count()
    // reads only footers)
    val matched =
      if (updateMatched || deleteMatched)
        tgt0.count() -
          tgt0.join(broadcast(srcKeys), resolvedKeys, "left_anti").count()
      else 0L

    // the pure upsert needs NO source-side join (every source row
    // lands); only update-only / insert-only must split the source by
    // match, which shuffles the target's key column once
    def tKeys = tgt0.select(resolvedKeys.map(col): _*).distinct()
    val extra: Option[org.apache.spark.sql.DataFrame] =
      (updateMatched, insertUnmatched) match {
        case (true, true) => Some(src)
        case (true, false) =>
          Some(src.join(tKeys, resolvedKeys, "left_semi"))
        case (false, true) =>
          Some(src.join(tKeys, resolvedKeys, "left_anti"))
        case (false, false) => None
      }
    val hasMatchedAction = updateMatched || deleteMatched
    if (GraftDml.morMode(spark) &&
        VersionedTable.currentVersion(spark, root).nonEmpty) {
      val (stats, blooms) = GraftDml.carriedIndex(spark, root)
      val kv = GraftDml.keepVersions(spark)
      val before = tgt0.count()
      // the pure-upsert and pure-delete idioms take the EQUALITY-
      // delete commit — O(source), no position-finding scan of the
      // target (the CDC landing shape) — when the semantics match:
      // no null source keys (a null key never equality-matches, but
      // the positional form would still INSERT such a row), and any
      // existing EDs on the table share this key set
      val v = VersionedTable.currentVersion(spark, root).get
      val edCompatible = VersionedTable.equalityDeletes(spark, root, v)
        .forall(_.keyCols == resolvedKeys) &&
        srcKeys.na.drop("any").count() == srcKeys.count()
      (updateMatched, deleteMatched, insertUnmatched) match {
        case (true, false, true) if edCompatible =>
          VersionedTable.upsertByKey(spark, root, src, resolvedKeys,
            kv, stats, blooms)
        case (false, true, false) if edCompatible =>
          VersionedTable.deleteByKey(spark, root, srcKeys, resolvedKeys,
            kv, stats, blooms)
        case _ =>
          // positional MoR: matched target rows vector-hide, the
          // source-side change set appends
          VersionedTable.deleteAndAppend(spark, root, kv, stats, blooms)(
            t => if (hasMatchedAction)
              t.join(broadcast(srcKeys), resolvedKeys, "left_semi")
            else t.limit(0),
            extra)
      }
      val after = VersionedTable.read(spark, root).count()
      return Seq(Row(matched, before, after))
    }
    val (before, after) = GraftDml.mutateFiles(spark, root)(
      t => if (hasMatchedAction)
        t.join(broadcast(srcKeys), resolvedKeys, "left_semi")
      else t.limit(0),
      t => t.join(broadcast(srcKeys), resolvedKeys, "left_anti"),
      extra)
    Seq(Row(matched, before, after))
  }
}

object GraftMergeCommand extends PredicateHelper {

  /** Validate the parsed MERGE shape and build the command; called
    * from the parser so unsupported forms fail at parse time. */
  def from(root: String, source: LogicalPlan, cond: Expression,
      matchedActions: Seq[MergeAction], notMatchedActions: Seq[MergeAction],
      notMatchedBySourceActions: Seq[MergeAction],
      withSchemaEvolution: Boolean): GraftMergeCommand = {
    if (withSchemaEvolution)
      GraftDml.fail("MERGE WITH SCHEMA EVOLUTION is not supported on graft tables")
    if (notMatchedBySourceActions.nonEmpty)
      GraftDml.fail("WHEN NOT MATCHED BY SOURCE is not supported on graft tables")
    val (updateMatched, deleteMatched) = matchedActions match {
      case Seq() => (false, false)
      case Seq(UpdateStarAction(None)) => (true, false)
      case Seq(DeleteAction(None)) => (false, true)
      case other => GraftDml.fail(
        "graft MERGE supports one unconditional WHEN MATCHED THEN " +
          s"UPDATE SET * or DELETE; got: ${other.mkString(", ")}")
    }
    val insertUnmatched = notMatchedActions match {
      case Seq() => false
      case Seq(InsertStarAction(None)) => true
      case other => GraftDml.fail(
        "graft MERGE supports one unconditional WHEN NOT MATCHED THEN " +
          s"INSERT *; got: ${other.mkString(", ")}")
    }
    if (!updateMatched && !deleteMatched && !insertUnmatched)
      GraftDml.fail("MERGE needs at least one action")
    val keys = splitConjunctivePredicates(cond).map {
      case EqualTo(a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute,
          b: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute)
          if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
        a.nameParts.last
      case other => GraftDml.fail(
        "graft MERGE ON must be a conjunction of same-named column " +
          s"equalities (t.k = s.k); got: ${other.sql}")
    }
    GraftMergeCommand(root, source, keys, updateMatched, deleteMatched,
      insertUnmatched)
  }
}

/** `INSERT INTO graft.`root` <query>` / `INSERT OVERWRITE graft.`root`
  * <query>` — the query result lands through the commit protocol:
  * plain INSERT is an O(batch) [[VersionedTable.appendDelta]] (every
  * current file carried by manifest reference, stats/blooms copied
  * forward byte-identical), OVERWRITE a full [[VersionedTable.commit]]
  * replacing the content; visibility is the usual single manifest
  * PUT, time travel works across the insert, and whatever skipping
  * columns the current manifest carries are (re)collected for the new
  * version. Positional column matching with implicit casts (standard
  * INSERT semantics; arity mismatch fails loudly), `BY NAME` matches
  * case-insensitively. An uncommitted root is created by the first
  * insert (its first commit supersedes a flat table). */
case class GraftInsertCommand(root: String, query: LogicalPlan,
    overwrite: Boolean, byName: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil

  override def run(spark: SparkSession): Seq[Row] = {
    val df0 = Bridge.ofRows(spark, query)
    val (stats, blooms) = GraftDml.carriedIndex(spark, root)
    val kv = GraftDml.keepVersions(spark)
    val current = VersionedTable.currentVersion(spark, root)
    val aligned = current match {
      case None => df0 // creating: the query's schema IS the table's
      case Some(_) =>
        val tgt = VersionedTable.read(spark, root).schema
        if (byName) {
          val srcCols = df0.columns.toSeq
          df0.select(tgt.toSeq.map { f =>
            srcCols.find(_.equalsIgnoreCase(f.name))
              .map(s => col(s"`$s`").cast(f.dataType).as(f.name))
              .getOrElse(GraftDml.fail(
                s"INSERT BY NAME source lacks target column `${f.name}` " +
                  s"(source columns: ${srcCols.mkString(", ")})"))
          }: _*)
        } else {
          if (df0.columns.length != tgt.length) GraftDml.fail(
            s"INSERT has ${df0.columns.length} columns but the table " +
              s"has ${tgt.length}; use BY NAME or match the schema")
          df0.select(df0.columns.toSeq.zip(tgt).map { case (s, f) =>
            col(s"`$s`").cast(f.dataType).as(f.name)
          }: _*)
        }
    }
    def write(stage: String): Unit =
      aligned.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(stage)
    if (current.isEmpty || overwrite)
      VersionedTable.commit(spark, root, kv, stats, blooms)(write)
    else
      VersionedTable.appendDelta(spark, root, kv, stats, blooms)(write)
    Nil
  }
}

/** `CREATE TABLE graft.`root` AS SELECT …` — DDL entry into the
  * versioned-table protocol from pure SQL. `CREATE OR REPLACE`
  * overwrites (a new version — the old one stays time-travelable
  * within retention); `IF NOT EXISTS` no-ops against an existing
  * table WITHOUT evaluating the query. Data-skipping index columns
  * come from TBLPROPERTIES (`'graft.statsCols'='a,b'`,
  * `'graft.bloomCols'='id'`); a REPLACE with no properties carries
  * the previous version's index columns forward, same as DML. */
case class GraftCtasCommand(root: String, query: LogicalPlan,
    ifNotExists: Boolean, replace: Boolean, orCreate: Boolean,
    statsCols: Seq[String], bloomCols: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil

  override def run(spark: SparkSession): Seq[Row] = {
    val exists = VersionedTable.currentVersion(spark, root).nonEmpty
    if (exists && ifNotExists) return Nil
    if (exists && !replace) GraftDml.fail(
      s"graft table $root already exists — use CREATE OR REPLACE TABLE " +
        "or IF NOT EXISTS")
    if (!exists && replace && !orCreate) GraftDml.fail(
      s"REPLACE TABLE: no committed graft table at $root — " +
        "use CREATE OR REPLACE TABLE")
    val df = Bridge.ofRows(spark, query)
    val (carriedStats, carriedBlooms) = GraftDml.carriedIndex(spark, root)
    val stats = if (statsCols.nonEmpty) statsCols else carriedStats
    val blooms = if (bloomCols.nonEmpty) bloomCols else carriedBlooms
    VersionedTable.commit(spark, root, GraftDml.keepVersions(spark),
      stats, blooms) { stage =>
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage)
    }
    Nil
  }
}

/** Plain `CREATE TABLE graft.`root` (schema)` — an EMPTY committed
  * version 0 whose single schema-bearing parquet file makes the table
  * immediately readable (and INSERT-able / streamable) by every graft
  * consumer. */
/** `DESCRIBE [TABLE] graft.`root`` — the logical schema (renamed /
  * evolved columns included) plus a graft metadata section: current
  * version, file count, and every declared CHECK constraint — the
  * console's one-stop "what is this table" answer. Metadata-only
  * (one manifest read; no data touched). */
case class GraftDescribeCommand(root: String,
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val df = VersionedTable.read(spark, root)
    val cols = df.schema.fields.toSeq.map(f =>
      Row(f.name, f.dataType.simpleString, null))
    val version = VersionedTable.currentVersion(spark, root)
    val meta = version match {
      case None => Seq(Row("# graft", "", ""), Row("layout", "flat", ""))
      case Some(v) =>
        Seq(Row("", "", ""), Row("# graft", "", ""),
          Row("version", v.toString, ""),
          Row("files", VersionedTable.currentFiles(spark, root)
            .size.toString, "")) ++
          VersionedTable.constraintsOf(spark, root).map { case (n, p) =>
            Row(s"constraint $n", s"CHECK ($p)", "")
          }
    }
    cols ++ meta
  }
}

case class GraftCreateTableCommand(root: String,
    tableSchema: GraftDml.Raw[org.apache.spark.sql.types.StructType],
    ifNotExists: Boolean, statsCols: Seq[String], bloomCols: Seq[String],
    checks: Seq[(String, String)] = Nil)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil

  override def run(spark: SparkSession): Seq[Row] = {
    if (VersionedTable.currentVersion(spark, root).nonEmpty) {
      if (ifNotExists) return Nil
      GraftDml.fail(s"graft table $root already exists")
    }
    // one EMPTY part file, not zero: a fileless dir has no schema to
    // infer, which would break every later read of version 0
    val df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], tableSchema.value).repartition(1)
    VersionedTable.commit(spark, root, GraftDml.keepVersions(spark),
      statsCols, bloomCols) { stage =>
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage)
    }
    if (checks.nonEmpty)
      VersionedTable.setConstraints(spark, root, checks,
        GraftDml.keepVersions(spark))
    Nil
  }
}

/** `ALTER TABLE graft.`root` ADD/DROP/RENAME/ALTER COLUMN` —
  * metadata-only schema evolution: each op is ONE delta commit
  * carrying every data file by reference (see the schema-evolution
  * section of [[VersionedTable]]). Supported forms: top-level ADD
  * COLUMN (no position/default), DROP COLUMN [IF EXISTS], RENAME
  * COLUMN, and ALTER COLUMN … TYPE restricted to reader-safe
  * widenings; nested fields and other ALTER verbs fail loudly. */
case class GraftAlterCommand(root: String, op: GraftAlterCommand.Op)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftAlterCommand._
    val kv = GraftDml.keepVersions(spark)
    op match {
      case Add(name, dt) =>
        VersionedTable.addColumn(spark, root, name, dt, kv)
      case Drop(name, ifExists) =>
        val cur = VersionedTable.read(spark, root).schema
        if (ifExists && !cur.fieldNames.exists(_.equalsIgnoreCase(name))) ()
        else VersionedTable.dropColumn(spark, root, name, kv)
      case Rename(from, to) =>
        VersionedTable.renameColumn(spark, root, from, to, kv)
      case Widen(name, dt) =>
        VersionedTable.widenColumn(spark, root, name, dt, kv)
      case AddCheck(name, predicate) =>
        VersionedTable.addConstraint(spark, root, name, predicate, kv)
      case DropCheck(name, ifExists) =>
        VersionedTable.dropConstraint(spark, root, name, ifExists, kv)
    }
    Nil
  }
}

object GraftAlterCommand {
  sealed trait Op
  final case class Add(name: String, dataType: org.apache.spark.sql.types.DataType) extends Op
  final case class Drop(name: String, ifExists: Boolean) extends Op
  final case class Rename(from: String, to: String) extends Op
  final case class Widen(name: String, dataType: org.apache.spark.sql.types.DataType) extends Op
  final case class AddCheck(name: String, predicate: String) extends Op
  final case class DropCheck(name: String, ifExists: Boolean) extends Op
}

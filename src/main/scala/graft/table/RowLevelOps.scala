package graft.table

import graft.GraftMeta._
import graft.core._
import graft.spark.v2.GraftScan
import graft.spark.v2.GraftSparkTable.{FilePathCol, RowIndexCol}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkShims

/** Row-level DELETE / UPDATE / MERGE INTO.
  *
  * Primary-key tables write change rows (+U / -D) — an O(changed rows) LSM
  * write (reference: UpdatePaimonTableCommand.scala:38, and the PK branch of
  * DeleteFromPaimonTableCommand.scala:45-177). Append tables use
  * copy-on-write: only the files that might contain matching rows are
  * rewritten, found by predicate pruning + an exact file-path pass
  * (reference: the COW branch of DeleteFromPaimonTableCommand).
  */
trait RowLevelOps { self: GraftTable =>

  /** DELETE FROM t WHERE cond. */
  def delete(cond: Column): Snapshot = {
    if (isPrimaryKeyed && schema.deletionVectors) {
      // dv mode: mark positions directly — no tombstone rows, no new data
      // files, one metadata commit (same machinery as the append-table DV
      // delete; live rows are unique per key so a position mask IS the
      // delete)
      deleteWithDvs(cond)
    } else if (isPrimaryKeyed) {
      val matching = toDF.filter(cond)
      upsert(matching, kinds = Some(lit(KindDelete)))
    } else {
      // fast path: predicate over partition columns only -> drop whole files,
      // no data rewrite (reference: partition drop fast-path in
      // DeleteFromPaimonTableCommand.scala:127)
      val refs = condRefs(cond)
      if (refs.nonEmpty && refs.forall(schema.partitionKeys.contains)) dropPartitions(cond)
      else if (schema.option("deletion-vectors.enabled", "false").toBoolean)
        deleteWithDvs(cond)
      else rewriteTouched(cond)(df => df.filter(!coalesce(cond, lit(false))))
    }
  }

  /** Deletion-vector DELETE: mark matching row positions in per-file
    * bitmaps instead of rewriting files — O(matched rows) metadata, no data
    * rewrite (reference: the DV branch of DeleteFromPaimonTableCommand
    * :127-137 + BitmapDeletionVector). Positions fold into RoaringBitmaps;
    * existing bitmaps union in.
    */
  private def deleteWithDvs(cond: Column): Snapshot = {
    require(schema.fileFormat == "parquet",
      "deletion vectors need the parquet row_index metadata column")
    val snapOpt = store.latestSnapshot
    if (snapOpt.isEmpty) return commitFiles(Nil, CommitKind.APPEND)
    val live = store.liveFiles(snapOpt.get)
    // the raw read applies existing DVs, so already-deleted rows never
    // re-match. Positions fold into per-file RoaringBitmap blobs AND
    // sidecars are written ON THE EXECUTORS — the driver collects O(files)
    // small (path, dvPath, count) tuples, never bitmap bytes or matched rows.
    val hits = rawDF(live).filter(cond)
      .select(col(FilePathCol).as("__f"), col(RowIndexCol).as("__i"))
      .groupBy("__f").agg(graft.functions.BitmapAgg.collect(col("__i")).as("__bm"))
    val entries = dvSidecarEntries(hits, byFilePath(live))
    if (entries.isEmpty) return snapOpt.get
    // COMPACT kind: a DV rewrite reorganizes existing rows — input-producer
    // delta scans must not re-emit the re-ADDed file's survivors as +I
    commitFiles(entries, CommitKind.COMPACT)
  }

  /** UPDATE t SET assignments WHERE cond. Keys may be dotted paths
    * addressing struct members (`person.age`) — a nested assignment
    * rebuilds the root struct member-by-member, leaving unaddressed
    * members untouched (reference: row-level UPDATE supports nested
    * column assignment through MergeInto's updated-fields projection).
    */
  def update(cond: Column, rawAssignments: Map[String, Column]): Snapshot = {
    val assignments = RowLevelOps.foldNestedAssignments(schema, rawAssignments)
    val bad = assignments.keySet -- schema.fields.map(_.name).toSet
    require(bad.isEmpty, s"unknown columns: ${bad.mkString(",")}")
    require(!assignments.keySet.exists(schema.primaryKeys.contains),
      "cannot update primary key columns")
    if (isPrimaryKeyed) {
      // Spark rewrites the plan into a WriteDelta, which runs and commits
      // here: the command executes eagerly
      GraftTable.upsertOf(SparkShims.ofRows(spark, UpdateTable(relation,
        RowLevelOps.assign(assignments), Some(SparkShims.realExpr(cond)))))
    } else {
      val guarded = assignments.map { case (k, v) =>
        k -> when(coalesce(cond, lit(false)), v).otherwise(col(k))
      }
      rewriteTouched(cond)(df => df.withColumns(guarded))
    }
  }

  /** MERGE INTO builder; see [[MergeIntoBuilder]]. Conditions and assignment
    * expressions reference the source as `s.<col>` and target as `t.<col>`.
    */
  def mergeInto(source: DataFrame, on: Column): MergeIntoBuilder =
    new MergeIntoBuilder(this, source, on)

  // ---------------- append-table COW machinery ----------------

  /** Column names a predicate references, resolved against the table schema
    * (analysis-only, no job).
    */
  private def condRefs(cond: Column): Seq[String] = {
    val probe = spark.createDataFrame(
      new java.util.ArrayList[Row](), schema.structType).filter(cond)
    org.apache.spark.sql.graft.SparkShims.analyzed(probe).collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.references.toSeq.map(_.name)
    }.flatten.distinct
  }

  /** Drop every file whose partition values satisfy cond (exact, driver-side
    * evaluation over the distinct partition values via a local frame).
    */
  private def dropPartitions(cond: Column): Snapshot = {
    val live = store.latestSnapshot.map(store.liveFiles).getOrElse(Nil)
    val matched = partitionsMatching(cond, live)
    commitFiles(
      live.filter(f => matched.contains(f.partition))
        .map(ManifestEntry(ManifestEntry.DELETE, _)),
      CommitKind.APPEND)
  }

  /** Distinct partition value tuples among `live` satisfying cond. The
    * original path-encoded strings ride along as a hidden column, so the
    * match maps back in O(matched) instead of a per-row linear re-encode
    * scan over every distinct partition.
    */
  def partitionsMatching(cond: Column, live: Seq[DataFileMeta]): Set[Seq[String]] = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val Sep = "\u0001" // never appears in partition-path-encoded values
    val ptFields = schema.partitionKeys.map(schema.fieldByName)
    val distinctVals = live.map(_.partition).distinct
    val rows = distinctVals.map { vs =>
      Row.fromSeq(vs.zip(ptFields).map { case (s, f) =>
        partitionValueToExternal(f.sparkType, s) } :+ vs.mkString(Sep))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(ptFields.map(_.toStructField) :+ StructField("__pt", StringType, false)))
    df.filter(cond).select("__pt").collect()
      .map(r => if (ptFields.isEmpty) Seq.empty[String]
                else r.getString(0).split(Sep, -1).toSeq)
      .toSet
  }

  private def partitionValueToExternal(dt: org.apache.spark.sql.types.DataType, s: String): Any = {
    import org.apache.spark.sql.types._
    if (s == PartitionPathUtils.NullPartitionValue) return null
    dt match {
      case StringType => s
      case IntegerType => s.toInt
      case LongType => s.toLong
      case ShortType => s.toShort
      case DoubleType => s.toDouble
      case FloatType => s.toFloat
      case BooleanType => s.toBoolean
      case DateType => java.sql.Date.valueOf(s)
      case TimestampType => java.sql.Timestamp.valueOf(s)
      case TimestampNTZType => java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      case other => throw new IllegalArgumentException(s"partition type $other")
    }
  }

  /** Copy-on-write: rewrite only the files containing rows matching cond.
    * Candidate files are narrowed by the raw scan's pruning (the filter is
    * pushed into it), then pinned exactly via `__file_path`.
    */
  private def rewriteTouched(cond: Column)(transform: DataFrame => DataFrame): Snapshot = {
    val snapOpt = store.latestSnapshot
    if (snapOpt.isEmpty) return commitFiles(Nil, CommitKind.APPEND)
    val live = store.liveFiles(snapOpt.get)
    val touchedPaths = rawDF(live).filter(cond)
      .select(col(FilePathCol)).distinct()
      .collect().map(_.getString(0)).toSet
    if (touchedPaths.isEmpty) return snapOpt.get
    val touched = live.filter(f => touchedPaths(GraftScan.filePath(location, f.path)))
    val rewritten = transform(rawDF(touched))
      .select(schema.fields.map(f => col(f.name)): _*)
    val newFiles = stageWrite(rewritten, level = 0, seq = store.latestSnapshotId.getOrElse(0L) + 1)
    // COMPACT kind, like the DV path: a COW rewrite reorganizes existing
    // rows — delta scanners must not re-emit the survivors as new input
    commitFiles(
      touched.map(ManifestEntry(ManifestEntry.DELETE, _)) ++
        newFiles.map(ManifestEntry(ManifestEntry.ADD, _)),
      CommitKind.COMPACT)
  }
}

object RowLevelOps {
  /** Assignments of whole target columns. */
  private[table] def assign(set: Map[String, Column]): Seq[Assignment] =
    set.toSeq.map { case (k, v) =>
      Assignment(UnresolvedAttribute.quoted(k), SparkShims.realExpr(v))
    }

  /** Fold dotted assignment paths into whole-root-column struct rebuilds:
    * `person.age -> v` becomes `person -> struct(person.name, v AS age)`,
    * recursing for deeper paths. A null root struct stays null (its
    * members cannot be addressed).
    */
  private[table] def foldNestedAssignments(schema: graft.core.TableSchema,
      assignments: Map[String, Column]): Map[String, Column] =
    foldNestedAssignmentsWith(schema, assignments, col(_))

  /** As [[foldNestedAssignments]] but reading unaddressed members from a
    * caller-chosen source column (e.g. the aliased target side of a MERGE
    * join, `col("t.person")`).
    */
  private[table] def foldNestedAssignmentsWith(schema: graft.core.TableSchema,
      assignments: Map[String, Column], srcOf: String => Column): Map[String, Column] = {
    import org.apache.spark.sql.types.StructType
    val (nested, flat) = assignments.partition(_._1.contains('.'))
    if (nested.isEmpty) return assignments
    // assigning a whole struct AND one of its members in the same statement
    // is ambiguous (which wins?) — SQL engines reject it; so do we
    val conflicting = nested.keySet.map(_.split('.').head) & flat.keySet
    require(conflicting.isEmpty,
      s"conflicting assignments: ${conflicting.toSeq.sorted.mkString(",")} " +
        "assigned both as a whole and via nested member paths")
    val rebuilt = nested.groupBy(_._1.split('.').head).map { case (root, as) =>
      val f = schema.fields.find(_.name == root).getOrElse(
        throw new IllegalArgumentException(s"unknown columns: $root"))
      val st = f.sparkType match {
        case s: StructType => s
        case other => throw new IllegalArgumentException(
          s"$root is $other, not a struct — cannot assign ${as.keys.mkString(",")}")
      }
      val paths = as.map { case (k, v) => k.split('.').toList.tail -> v }
      def build(src: Column, t: StructType, ps: Map[List[String], Column]): Column =
        struct(t.fields.toSeq.map { c =>
          ps.get(List(c.name)) match {
            case Some(v) => v.cast(c.dataType).as(c.name)
            case None =>
              val deeper = ps.collect {
                case (h :: rest, v) if h == c.name && rest.nonEmpty => rest -> v
              }
              if (deeper.isEmpty) src.getField(c.name).as(c.name)
              else c.dataType match {
                case cst: StructType => build(src.getField(c.name), cst, deeper).as(c.name)
                case other => throw new IllegalArgumentException(
                  s"$root.${c.name} is $other, not a struct")
              }
          }
        }: _*)
      val unknown = paths.keys.filterNot(p => resolvable(st, p))
      require(unknown.isEmpty,
        s"unknown columns: ${unknown.map(p => (root :: p).mkString(".")).mkString(",")}")
      root -> when(srcOf(root).isNull, lit(null).cast(f.sparkType))
        .otherwise(build(srcOf(root), st, paths))
    }
    flat ++ rebuilt
  }

  private def resolvable(st: org.apache.spark.sql.types.StructType,
      path: List[String]): Boolean = path match {
    case Nil => false
    case h :: Nil => st.fieldNames.contains(h)
    case h :: rest => st.find(_.name == h).map(_.dataType).collect {
      case s: org.apache.spark.sql.types.StructType => resolvable(s, rest)
    }.getOrElse(false)
  }
}

/** MERGE INTO t USING s ON cond WHEN MATCHED ... WHEN NOT MATCHED ...,
  * planned as Spark's `MergeIntoTable` over the table's relation (aliased
  * `t`, the source `s`): Spark's rewrite joins the source with the target
  * and runs one delta write of the changed rows, as SQL MERGE does
  * (reference: MergeIntoPaimonTable.scala:41 writes the same changed rows).
  *
  * Action order matters: the first matching clause wins, like SQL MERGE.
  * Supported on primary-key tables.
  */
class MergeIntoBuilder(table: GraftTable, source: DataFrame, on: Column) {
  private var matched = Vector.empty[MergeAction]
  private var notMatched = Vector.empty[MergeAction]
  private var notMatchedBySource = Vector.empty[MergeAction]
  private def tgtCols = table.schema.fields.map(_.name)
  private def expr(c: Option[Column]) = c.map(SparkShims.realExpr)

  def whenMatchedUpdate(set: Map[String, Column], cond: Option[Column] = None): this.type = {
    matched :+= UpdateAction(expr(cond), RowLevelOps.assign(foldTargetNested(set))); this
  }
  // nested set keys (person.age) rebuild the TARGET side's struct
  private def foldTargetNested(set: Map[String, Column]): Map[String, Column] =
    RowLevelOps.foldNestedAssignmentsWith(table.schema, set, r => col(s"t.$r"))
  /** UPDATE SET * — every target column from the like-named source column. */
  def whenMatchedUpdateAll(cond: Option[Column] = None): this.type =
    whenMatchedUpdate(tgtCols.map(c => c -> col(s"s.$c")).toMap, cond)
  def whenMatchedDelete(cond: Option[Column] = None): this.type = {
    matched :+= DeleteAction(expr(cond)); this
  }
  /** INSERT: a target column not in `values` takes the like-named source
    * column, or null when the source has none.
    */
  def whenNotMatchedInsert(values: Map[String, Column], cond: Option[Column] = None): this.type = {
    val filled = tgtCols.filterNot(values.contains).map { c =>
      c -> (if (source.columns.contains(c)) col(s"s.$c")
            else lit(null).cast(table.schema.fieldByName(c).sparkType))
    }
    notMatched :+= InsertAction(expr(cond), RowLevelOps.assign(values ++ filled)); this
  }
  /** INSERT * — every target column from the like-named source column. */
  def whenNotMatchedInsertAll(cond: Option[Column] = None): this.type =
    whenNotMatchedInsert(tgtCols.map(c => c -> col(s"s.$c")).toMap, cond)
  def whenNotMatchedBySourceDelete(cond: Option[Column] = None): this.type = {
    notMatchedBySource :+= DeleteAction(expr(cond)); this
  }
  def whenNotMatchedBySourceUpdate(set: Map[String, Column], cond: Option[Column] = None): this.type = {
    notMatchedBySource :+= UpdateAction(expr(cond), RowLevelOps.assign(foldTargetNested(set))); this
  }

  def execute(): graft.core.Snapshot = {
    require(table.isPrimaryKeyed, "MERGE INTO requires a primary-key table")
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE INTO needs at least one WHEN clause")
    GraftTable.upsertOf(SparkShims.ofRows(table.spark, MergeIntoTable(
      SubqueryAlias("t", table.relation),
      SubqueryAlias("s", SparkShims.analyzed(source)),
      SparkShims.realExpr(on), matched, notMatched, notMatchedBySource,
      withSchemaEvolution = false)))
  }
}

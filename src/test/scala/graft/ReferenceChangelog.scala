package graft

import graft.core.DataFileMeta
import graft.spark.v2.GraftScan
import graft.table.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TEST ORACLE: the changelog producers' full-outer-join diff, from before
  * both producers moved onto the compaction reader's per-key changelog fold
  * (graft.merge.ChangelogMergeRows). It diffs two states as DataFrames with
  * a join on the key, an independent implementation of the same changelog
  * semantics, so specs compare the production changelog against it.
  *
  * [[lookup]] and [[fullCompaction]] build the two states as the producers
  * did; [[diff]] is the diff itself. Each returns the changelog rows,
  * unstaged: the table fields, bucket, kind, seq and pos.
  */
object ReferenceChangelog {
  import GraftMeta._

  /** `changelog-producer = lookup`: the commit that staged `newFiles` at
    * `seq`, over the touched groups' `oldFiles`. Both states are the
    * terminal merge of their files; the commit's own keys scope
    * row-deduplicate.
    */
  def lookup(t: GraftTable, oldFiles: Seq[DataFileMeta], newFiles: Seq[DataFileMeta],
      seq: Long): DataFrame = {
    def mergedState(fs: Seq[DataFileMeta]) =
      GraftScan.compactionInput(t, fs, GraftTable.MaxLevel)
    val touchedKeys = ReferenceRawRead.rawUnion(t, newFiles, t.schema)
      .select(t.schema.primaryKeys.map(col): _*)
    diff(t, mergedState(oldFiles), mergedState(oldFiles ++ newFiles), seq, Some(touchedKeys))
  }

  /** `changelog-producer = full-compaction`: the rewrite of `touched` into
    * `written` at `seq`. The old state is the top level as stored; keys
    * with records below the top level are the input since the last full
    * compaction — the reference's row-deduplicate scope.
    */
  def fullCompaction(t: GraftTable, touched: Seq[DataFileMeta], written: Seq[DataFileMeta],
      seq: Long): DataFrame = {
    val (top, below) = touched.partition(_.level >= GraftTable.MaxLevel)
    val oldTop = ReferenceRawRead.rawUnion(t, top, t.schema)
    val touchedKeys = ReferenceRawRead.rawUnion(t, below, t.schema)
      .select(t.schema.primaryKeys.map(col): _*)
    diff(t, oldTop, ReferenceRawRead.rawUnion(t, written, t.schema), seq, Some(touchedKeys))
  }

  /** Compute the per-key diff of two merged states: +I for new keys, -U/+U
    * pairs for updated values, -D for vanished keys. One full-outer join on
    * the primary key.
    *
    * `touchedKeys` (a distinct pk frame of the keys the triggering input
    * actually wrote) drives the reference's
    * `changelog-producer.row-deduplicate` default: a touched key whose
    * value did NOT change still emits its -U/+U pair unless the option
    * suppresses it. Untouched keys never emit. None = suppress no-op
    * pairs regardless (callers with no touched-key notion).
    */
  def diff(t: GraftTable, oldState: org.apache.spark.sql.DataFrame,
      newState: org.apache.spark.sql.DataFrame, seq: Long,
      touchedKeys: Option[org.apache.spark.sql.DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.functions.{array, coalesce, explode, filter => afilter, struct, when}
    val schema = t.schema
    val pks = schema.primaryKeys
    val values = schema.fields.map(_.name).filterNot(pks.contains)
    def side(df: org.apache.spark.sql.DataFrame, mark: String) =
      df.select((schema.fields.map(f => col(f.name)) :+ col(BucketCol)): _*)
        .withColumn(mark, lit(1))
    val o = side(oldState, "__om").alias("o")
    val n = side(newState, "__nm").alias("n")
    val cond = pks.map(k => col(s"o.$k") === col(s"n.$k")).reduce(_ && _)
    val outer = o.join(n, cond, "full_outer")
    val joined = touchedKeys.filter(_ => !schema.changelogRowDeduplicate) match {
      case None => outer.withColumn("__tm", lit(null: Integer))
      case Some(t) =>
        val tk = t.select(pks.map(k => col(k).as(s"__t_$k")): _*).distinct()
          .withColumn("__tm", lit(1)).alias("t")
        outer.join(tk,
          pks.map(k => col(s"n.$k") === col(s"t.__t_$k")).reduce(_ && _),
          "left_outer")
    }
    val oldOnly = col("__om").isNotNull && col("__nm").isNull
    val newOnly = col("__nm").isNotNull && col("__om").isNull
    val valuesDiffer =
      !(struct(values.map(v => col(s"o.$v")): _*) <=>
        struct(values.map(v => col(s"n.$v")): _*))
    val changed = col("__om").isNotNull && col("__nm").isNotNull &&
      (valuesDiffer || col("__tm").isNotNull)
    def out(kind: Byte, s: String) = struct(
      (lit(kind).as("__k") +: schema.fields.map(f => col(s"$s.${f.name}").as(f.name))) :+
        col(s"$s.$BucketCol").as(BucketCol): _*)
    val candidates = array(
      when(newOnly, out(KindInsert, "n")),
      when(changed, out(KindUpdateBefore, "o")),
      when(changed, out(KindUpdateAfter, "n")),
      when(oldOnly, out(KindDelete, "o")))
    joined
      .select(explode(afilter(candidates, x => x.isNotNull)).as("r"))
      .select(col("r.*"))
      .withColumn(KindCol, col("__k")).drop("__k")
      .withColumn(SeqCol, lit(seq))
      .withColumn(PosCol, when(col(KindCol) === lit(KindUpdateBefore), 0L).otherwise(1L))
  }
}

package graft.table

import graft.core.{Field, TableSchema}
import org.apache.spark.sql.types.DataType

/** Transactional schema evolution (reference: paimon-core
  * schema/SchemaChange.java:36-512 applied via SchemaManager.commitChanges
  * :76,179). Each change commits a new numbered schema file; data files keep
  * their original schemaId and reads remap by persistent field id
  * (see GraftScan's per-schema read plans and GraftScan.alignFieldExpr).
  */
trait SchemaEvolution { self: GraftTable =>

  private def commitEvolved(f: TableSchema => TableSchema): TableSchema = {
    val cur = schema
    val next = f(cur).copy(id = cur.id + 1)
    store.commitSchema(next)
    next
  }

  /** Apply a BATCH of schema changes as one schema version — all-or-nothing
    * (reference: SchemaManager.commitChanges:76,179 folds the whole
    * SchemaChange list into a single committed TableSchema, so a failure
    * partway through a multi-change ALTER never leaves the table partially
    * altered). Each op is a pure `TableSchema => TableSchema` transform
    * (the `*T` forms of the single-change methods below).
    */
  def evolveBatch(ops: Seq[TableSchema => TableSchema]): TableSchema =
    commitEvolved(s => ops.foldLeft(s)((acc, op) => op(acc)))

  // ----- nested-path plumbing -------------------------------------------
  // Column names may be dotted paths ("addr.city") addressing fields
  // INSIDE struct columns — nested children carry their own persistent
  // field ids (assigned at create / add time), so renames and retypes
  // inside structs remap on read exactly like top-level evolution
  // (reference: SchemaEvolutionUtil.createDataProjection:266 walks nested
  // RowTypes by child field id).

  /** Keep a struct field's display DDL in sync with its evolved children. */
  private def refreshType(f: Field): Field =
    if (f.nested.nonEmpty) f.copy(dataType = f.sparkType.sql) else f

  /** Rewrite the struct field at `path` (all but the final segment must
    * name evolvable structs — structs whose children have field ids).
    */
  private def rewriteParent(fields: Seq[Field], path: Seq[String],
      op: Field => Field): Seq[Field] = {
    require(fields.exists(_.name == path.head), s"no column ${path.head}")
    fields.map { f =>
      if (f.name != path.head) f
      else if (path.tail.isEmpty) refreshType(op(f))
      else {
        require(f.nested.nonEmpty,
          s"column ${f.name} is not an evolvable struct (no nested field ids; " +
            "tables created before nested evolution keep struct columns opaque)")
        refreshType(f.copy(nested = rewriteParent(f.nested, path.tail, op)))
      }
    }
  }

  /** A new field (possibly itself a struct) with fresh persistent ids for
    * it and every descendant; returns the field and the next free id.
    */
  private def fieldWithIds(name: String, tpe: DataType, nullable: Boolean,
      start: Int): (Field, Int) = tpe match {
    case st: org.apache.spark.sql.types.StructType =>
      var next = start + 1
      val children = st.fields.toSeq.map { c =>
        val (cf, n) = fieldWithIds(c.name, c.dataType, c.nullable, next)
        next = n
        cf
      }
      (Field(start, name, tpe.sql, nullable, children), next)
    case _ => (Field(start, name, tpe.sql, nullable), start + 1)
  }

  private def splitPath(name: String): (Seq[String], String) = {
    val parts = name.split('.').toSeq
    (parts.init, parts.last)
  }

  def addColumn(name: String, dataType: DataType, nullable: Boolean = true): TableSchema =
    commitEvolved(addColumnT(name, dataType, nullable))

  private[graft] def addColumnT(name: String, dataType: DataType,
      nullable: Boolean = true): TableSchema => TableSchema = { s =>
      val (parent, leaf) = splitPath(name)
      if (parent.isEmpty) {
        require(!s.fields.exists(_.name == name), s"column $name already exists")
        val (f, next) = fieldWithIds(name, dataType, nullable, s.highestFieldId + 1)
        s.copy(fields = s.fields :+ f, highestFieldId = next - 1)
      } else {
        var next = s.highestFieldId + 1
        val fields = rewriteParent(s.fields, parent, { p =>
          require(p.nested.nonEmpty,
            s"column ${parent.mkString(".")} is not an evolvable struct")
          require(!p.nested.exists(_.name == leaf),
            s"column $name already exists")
          val (f, n) = fieldWithIds(leaf, dataType, nullable, next)
          next = n
          p.copy(nested = p.nested :+ f)
        })
        s.copy(fields = fields, highestFieldId = next - 1)
      }
    }

  def renameColumn(from: String, to: String): TableSchema =
    commitEvolved(renameColumnT(from, to))

  private[graft] def renameColumnT(from: String,
      to: String): TableSchema => TableSchema = { s =>
      val (parent, leaf) = splitPath(from)
      require(!to.contains('.'), "rename target is a bare name")
      if (parent.isEmpty) {
        require(s.fields.exists(_.name == from), s"no column $from")
        require(!s.fields.exists(_.name == to), s"column $to already exists")
        require(!s.partitionKeys.contains(from) && !s.primaryKeys.contains(from),
          "cannot rename partition/primary key columns")
        s.copy(fields = s.fields.map(f => if (f.name == from) f.copy(name = to) else f))
      } else {
        s.copy(fields = rewriteParent(s.fields, parent, { p =>
          require(p.nested.exists(_.name == leaf), s"no column $from")
          require(!p.nested.exists(_.name == to),
            s"column ${(parent :+ to).mkString(".")} already exists")
          p.copy(nested = p.nested.map(c => if (c.name == leaf) c.copy(name = to) else c))
        }))
      }
    }

  def dropColumn(name: String): TableSchema =
    commitEvolved(dropColumnT(name))

  private[graft] def dropColumnT(name: String): TableSchema => TableSchema = { s =>
      val (parent, leaf) = splitPath(name)
      if (parent.isEmpty) {
        require(s.fields.exists(_.name == name), s"no column $name")
        require(!s.partitionKeys.contains(name) && !s.primaryKeys.contains(name),
          "cannot drop partition/primary key columns")
        require(s.fields.size > 1, "cannot drop the last column")
        s.copy(fields = s.fields.filterNot(_.name == name))
      } else {
        s.copy(fields = rewriteParent(s.fields, parent, { p =>
          require(p.nested.exists(_.name == leaf), s"no column $name")
          require(p.nested.size > 1, s"cannot drop the last field of ${parent.mkString(".")}")
          p.copy(nested = p.nested.filterNot(_.name == leaf))
        }))
      }
    }

  /** Widen/retype a column (top-level or nested path); reads cast old
    * files to the new type.
    */
  def updateColumnType(name: String, dataType: DataType): TableSchema =
    commitEvolved(updateColumnTypeT(name, dataType))

  private[graft] def updateColumnTypeT(name: String,
      dataType: DataType): TableSchema => TableSchema = { s =>
      val (parent, leaf) = splitPath(name)
      if (parent.isEmpty) {
        require(s.fields.exists(_.name == name), s"no column $name")
        require(!s.partitionKeys.contains(name) && !s.primaryKeys.contains(name),
          "cannot retype partition/primary key columns")
        // a whole-column retype replaces any nested field ids: the new type
        // is authoritative (re-adding ids would need a fresh allocation)
        s.copy(fields = s.fields.map(f =>
          if (f.name == name) f.copy(dataType = dataType.sql, nested = Nil) else f))
      } else {
        s.copy(fields = rewriteParent(s.fields, parent, { p =>
          require(p.nested.exists(_.name == leaf), s"no column $name")
          p.copy(nested = p.nested.map(c =>
            if (c.name == leaf) c.copy(dataType = dataType.sql, nested = Nil) else c))
        }))
      }
    }

  /** Update one field (top-level or nested path) in place. */
  private def updateField(s: TableSchema, name: String,
      op: Field => Field): Seq[Field] = {
    val (parent, leaf) = splitPath(name)
    if (parent.isEmpty) {
      require(s.fields.exists(_.name == name), s"no column $name")
      s.fields.map(f => if (f.name == name) op(f) else f)
    } else rewriteParent(s.fields, parent, { p =>
      require(p.nested.exists(_.name == leaf), s"no column $name")
      p.copy(nested = p.nested.map(c => if (c.name == leaf) op(c) else c))
    })
  }

  /** Set/clear a column comment (reference: SchemaChange
    * .updateColumnComment — SchemaChange.java:118).
    */
  def updateColumnComment(name: String, comment: Option[String]): TableSchema =
    commitEvolved(updateColumnCommentT(name, comment))

  private[graft] def updateColumnCommentT(name: String,
      comment: Option[String]): TableSchema => TableSchema =
    s => s.copy(fields = updateField(s, name, _.copy(comment = comment)))

  /** Change a column's nullability (reference: SchemaChange
    * .updateColumnNullability — SchemaChange.java:113). Primary-key and
    * partition columns must stay required; tightening to NOT NULL is
    * enforced on future writes (existing files are not rescanned, same
    * contract as the reference).
    */
  def updateColumnNullability(name: String, nullable: Boolean): TableSchema =
    commitEvolved(updateColumnNullabilityT(name, nullable))

  private[graft] def updateColumnNullabilityT(name: String,
      nullable: Boolean): TableSchema => TableSchema = { s =>
      if (nullable)
        require(!s.primaryKeys.contains(name) && !s.partitionKeys.contains(name),
          s"cannot make key column $name nullable")
      s.copy(fields = updateField(s, name, _.copy(nullable = nullable)))
    }

  /** Reorder a column to FIRST or AFTER another sibling (reference:
    * SchemaChange.Move — SchemaChange.java:215; read remap is by field id,
    * so declared order is pure presentation and old files are unaffected).
    * Both columns must share a parent (top-level, or the same struct).
    */
  def moveColumn(name: String, afterOrFirst: Option[String]): TableSchema =
    commitEvolved(moveColumnT(name, afterOrFirst))

  private[graft] def moveColumnT(name: String,
      afterOrFirst: Option[String]): TableSchema => TableSchema = { s =>
      def reorder(siblings: Seq[Field], leaf: String): Seq[Field] = {
        val moving = siblings.find(_.name == leaf)
          .getOrElse(throw new IllegalArgumentException(s"no column $name"))
        val rest = siblings.filterNot(_.name == leaf)
        afterOrFirst match {
          case None => moving +: rest
          case Some(anchor) =>
            require(rest.exists(_.name == anchor),
              s"AFTER column $anchor not found beside $name")
            rest.flatMap(f => if (f.name == anchor) Seq(f, moving) else Seq(f))
        }
      }
      val (parent, leaf) = splitPath(name)
      if (parent.isEmpty) s.copy(fields = reorder(s.fields, leaf))
      else s.copy(fields = rewriteParent(s.fields, parent,
        p => p.copy(nested = reorder(p.nested, leaf))))
    }

  def setOption(key: String, value: String): TableSchema =
    commitEvolved(setOptionT(key, value))

  private[graft] def setOptionT(key: String,
      value: String): TableSchema => TableSchema = { s =>
    // bucket count determines the physical layout of every existing PK
    // file — flipping it via SET would break bucket pruning and point
    // lookups (reference: AbstractFileStoreTable.java:198 "Cannot change
    // bucket number through dynamic options. You might need to rescale
    // bucket."); rescaleBucket() rewrites the layout instead
    if (key == TableSchema.BucketOpt && s.hasBucketDirs &&
        s.option(TableSchema.BucketOpt, "8") != value &&
        store.latestSnapshot.isDefined)
      throw new UnsupportedOperationException(
        "cannot change bucket number on a populated bucketed table via " +
          "SET - use rescaleBucket() / CALL sys.rescale")
    // the bucket-key column set is baked into every existing file's bucket
    // id the same way the bucket count is — immutable once populated (for
    // append tables this also forbids ENABLING bucketing mid-life: old
    // files all sit in bucket 0 and would be wrongly bucket-pruned)
    if (key == TableSchema.BucketKeyOpt &&
        s.options.get(key).getOrElse("") != value &&
        store.latestSnapshot.isDefined)
      throw new UnsupportedOperationException(
        "cannot change bucket-key on a populated table")
    // the global pk index is only trustworthy if every commit since the
    // table's birth wrote its delta — toggling it on mid-life would leave
    // unindexed history and silently truncate changelog pre-images
    if (key == "cross-partition.index.enabled" &&
        s.option(key, "true") != value && store.latestSnapshot.isDefined)
      throw new UnsupportedOperationException(
        "cross-partition.index.enabled cannot be toggled via SET: the index " +
          "must cover every commit since it was enabled - use " +
          "rebuildGlobalIndex() to enable it with full coverage")
    // dv mode changes the physical contract of existing files (one row per
    // key, masks instead of versions) — only flippable while empty
    if (key == "deletion-vectors.enabled" && store.latestSnapshot.isDefined &&
        s.option(key, "false") != value)
      throw new UnsupportedOperationException(
        "cannot toggle deletion-vectors.enabled on a populated table")
    // validate BEFORE the schema version is committed — a rejected
    // combination must not leave a persisted schema version behind
    val next = s.copy(options = s.options + (key -> value))
    next.validate()
    next
  }

  def removeOption(key: String): TableSchema =
    commitEvolved(removeOptionT(key))

  private[graft] def removeOptionT(key: String): TableSchema => TableSchema =
    s => s.copy(options = s.options - key)

  /** Option flip that bypasses the SET immutability guards — only for
    * procedures that restore the option's invariant themselves (e.g.
    * [[Maintenance.rebuildGlobalIndex]] flips the flag and then writes an
    * index covering every live row).
    */
  private[table] def setOptionInternal(key: String, value: String): TableSchema =
    commitEvolved(s => s.copy(options = s.options + (key -> value)))

  /** Change the bucket count of a PK table by REWRITING it under the new
    * layout — one merged read of the pinned current snapshot, one
    * whole-table OVERWRITE commit under the evolved schema (reference:
    * the documented rescale-bucket procedure: bucket changes require an
    * INSERT OVERWRITE rewrite).
    */
  def rescaleBucket(n: Int): graft.core.Snapshot = {
    require(schema.hasBucketDirs,
      "rescale targets bucketed tables (primary-key or bucketed append)")
    require(n >= 1, s"bucket count must be >= 1, got $n")
    val content = toDF // pins the CURRENT snapshot's file set
    val prevBucket = schema.option(TableSchema.BucketOpt, "8")
    commitEvolved(s => s.copy(options = s.options + (TableSchema.BucketOpt -> n.toString)))
    // Reads are safe in the window between the two commits (and after a
    // crash inside it): bucket pruning hashes each file with the bucket
    // count of the schema the FILE was written under (GraftFileIndex
    // .bucketPruner), so old-layout files are never pruned with the new
    // modulus. The rollback below additionally keeps WRITE routing
    // consistent with the live files when the rewrite fails, so later
    // upserts don't produce a mixed-modulus layout.
    try overwrite(content)
    catch {
      case e: Throwable =>
        try commitEvolved(s =>
          s.copy(options = s.options + (TableSchema.BucketOpt -> prevBucket)))
        catch { case e2: Throwable => e.addSuppressed(e2) }
        throw e
    }
  }
}

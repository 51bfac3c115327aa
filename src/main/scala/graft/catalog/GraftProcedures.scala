package graft.catalog

import scala.jdk.CollectionConverters._

import graft.sources.SnapshotStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** MAINTENANCE PROCEDURES through Spark's own `CALL` syntax
  * (`ProcedureCatalog`, the Spark 4 stored-procedure SPIP) — the
  * operational surface every table format ships (Iceberg's
  * `rewrite_data_files`/`expire_snapshots`, Delta's OPTIMIZE/VACUUM),
  * here as ONE-statement SQL over the snapshot layer:
  *
  *  - `CALL graft.compact(table, buckets)` — OPTIMIZE: re-cluster the
  *    CURRENT snapshot (delete vectors applied, i.e. MoR reconciliation)
  *    into `buckets` files and commit; schema/partition/mode meta lines
  *    carry, old versions stay time-travelable, vectors die reconciled.
  *  - `CALL graft.vacuum(table, keep)` — retention GC: drop all but the
  *    newest `keep` versions and every unreferenced data/vector file.
  *  - `CALL graft.analyze(table, key)` — compute the per-file [min,max]
  *    stats sidecar for the current version and attach it as the
  *    session's transparent zone index (q306/q310 machinery).
  *  - `CALL graft.set_write_mode(table, mode)` — flip row-level DML
  *    between copy-on-write and merge-on-read (`SupportsDelta`).
  *
  * Each returns a one-row result set (Spark renders it like a query), is
  * non-deterministic by contract (they mutate or read mutable state), and
  * resolves the table through the same session registration `SELECT`
  * does. Unknown procedures and unknown tables decline loudly. At 100 TB
  * these run as ordinary Spark jobs: compaction cost is one clustered
  * rewrite of the live rows, vacuum and analyze are manifest/footer-scale.
  */
object GraftProcedures {

  val Names: Seq[String] = Seq("compact", "vacuum", "analyze",
    "set_write_mode", "set_partition_spec", "branch", "tag", "publish",
    "drop_ref", "rollback", "remove_orphans", "history")

  def load(catalogName: String, ident: Identifier): UnboundProcedure = {
    if (ident.namespace().nonEmpty || !Names.contains(ident.name()))
      throw new RuntimeException(
        s"graft catalog: unknown procedure ${ident.namespace().mkString(".")}" +
          s".${ident.name()} (have: ${Names.mkString(", ")})")
    new GraftProcedure(catalogName, ident.name())
  }

  private[catalog] def rootOf(catalogName: String, table: String): String = {
    val spark = SparkSession.active
    spark.conf
      .getOption(s"spark.sql.catalog.$catalogName.path.$table")
      .orElse(spark.conf
        .getOption(s"spark.sql.catalog.$catalogName.warehouse")
        .flatMap(w => GraftNamespace.lookup(spark, w, table)))
      .getOrElse(throw new RuntimeException(
        s"graft catalog: unknown table $table (register it or CREATE it)"))
  }

  /** A user predicate STRING as pushed-filter form: resolved against the
    * version's snapshot read, conjuncts split from the optimized plan and
    * translated to `sources.Filter` — the admission vocabulary the
    * manifest's zone/partition pruning understands. Untranslatable
    * conjuncts drop (admission stays conservative: more files rewritten,
    * never a wrong scope). */
  private[catalog] def filtersOf(spark: SparkSession, root: String,
      version: Int, pred: String): Seq[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.graft.ColumnBridge
    val df = SnapshotStore.read(spark, root, version)
      .where(org.apache.spark.sql.functions.expr(pred))
    df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.flatMap(ColumnBridge.splitConjuncts)
      .flatMap(ColumnBridge.translateFilter)
  }
}

class GraftProcedure(catalogName: String, procName: String)
  extends UnboundProcedure with BoundProcedure {

  override def name(): String = procName

  override def description(): String = procName match {
    case "compact" => "re-cluster the current snapshot (reconciling " +
      "delete vectors) into `buckets` files and commit a new version"
    case "vacuum" => "drop all but the newest `keep` versions and every " +
      "unreferenced data/vector file"
    case "analyze" => "compute + attach the per-file [min,max] zone " +
      "stats sidecar for `key`"
    case "history" => "every retained version: commit time, file/vector " +
      "counts, write mode — the table's audit log IS its manifest chain"
    case "set_partition_spec" => "evolve the partition spec from the next " +
      "commit on (metadata only): new writes land under the new spec, " +
      "existing files keep pruning under their own"
    case "branch" => "open a staging branch (write-audit-publish): `main` " +
      "pins at the current version — bare readers keep seeing it — while " +
      "appends land on the named floating branch (VERSION AS OF '<name>')"
    case "tag" => "pin a named ref at a committed version: VERSION AS OF " +
      "'<name>' resolves it forever, and vacuum keeps it as a retention root"
    case "publish" => "fast-forward: drop the `main` pin (bare readers see " +
      "the audited tip) and consume the named staging branch"
    case "drop_ref" => "remove a named ref (its target becomes vacuumable)"
    case "rollback" => "restore a committed version's state as a NEW " +
      "commit (the undo every table format ships): history stays intact " +
      "and time-travelable, nothing is deleted"
    case "remove_orphans" => "delete root files no retained manifest " +
      "references and older than `grace_ms` (crash-leaked staging " +
      "publications); live data is untouchable by construction"
    case _ => "set row-level DML mode: 'cow' (copy-on-write) or 'mor' " +
      "(merge-on-read delete vectors)"
  }

  override def bind(inputType: StructType): BoundProcedure = this

  /** Maintenance mutates table state — never cacheable. */
  override def isDeterministic: Boolean = false

  private def in(n: String, dt: DataType) = ProcedureParameter.in(n, dt).build()

  override def parameters(): Array[ProcedureParameter] = procName match {
    case "compact" => Array(in("table", StringType),
      ProcedureParameter.in("buckets", IntegerType).defaultValue("8").build(),
      ProcedureParameter.in("cluster_col", StringType).defaultValue("''")
        .build(),
      ProcedureParameter.in("where", StringType).defaultValue("''").build(),
      ProcedureParameter.in("min_files", IntegerType).defaultValue("0")
        .build())
    case "vacuum" => Array(in("table", StringType),
      ProcedureParameter.in("keep", IntegerType).defaultValue("1").build(),
      ProcedureParameter.in("older_than", StringType).defaultValue("''")
        .build())
    case "analyze" => Array(in("table", StringType),
      ProcedureParameter.in("key", StringType).defaultValue("''").build())
    case "history" => Array(in("table", StringType))
    case "set_partition_spec" =>
      Array(in("table", StringType), in("spec", StringType))
    case "branch" | "publish" | "drop_ref" =>
      Array(in("table", StringType), in("name", StringType))
    case "tag" => Array(in("table", StringType), in("name", StringType),
      in("version", IntegerType))
    case "rollback" =>
      Array(in("table", StringType), in("version", IntegerType))
    case "remove_orphans" => Array(in("table", StringType),
      ProcedureParameter.in("grace_ms", LongType).defaultValue("3600000")
        .build())
    case _ => Array(in("table", StringType), in("mode", StringType))
  }

  private def resultSchema: StructType = procName match {
    case "compact" => new StructType()
      .add("version", IntegerType).add("files_before", IntegerType)
      .add("files_after", IntegerType).add("vectors_reconciled", IntegerType)
    case "vacuum" => new StructType()
      .add("removed_files", IntegerType).add("removed_versions", IntegerType)
    case "analyze" => new StructType()
      .add("version", IntegerType).add("files", LongType)
    case "history" => new StructType()
      .add("version", IntegerType)
      .add("committed_at", org.apache.spark.sql.types.TimestampType)
      .add("n_files", IntegerType).add("n_vectors", IntegerType)
      .add("write_mode", StringType)
    case "set_partition_spec" => new StructType()
      .add("version", IntegerType).add("old_spec", StringType)
      .add("new_spec", StringType)
    case "branch" | "tag" | "publish" | "drop_ref" => new StructType()
      .add("version", IntegerType).add("ref", StringType)
      .add("target", StringType)
    case "rollback" => new StructType()
      .add("version", IntegerType).add("restored_from", IntegerType)
    case "remove_orphans" => new StructType()
      .add("removed", IntegerType)
    case _ => new StructType()
      .add("version", IntegerType).add("mode", StringType)
  }

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val table = input.getUTF8String(0).toString
    val root = GraftProcedures.rootOf(catalogName, table)
    if (procName == "history") {
      val rows = SnapshotStore.versionTimes(spark, root).map { case (v, ms) =>
        InternalRow(v, ms * 1000L, // TimestampType carries micros
          SnapshotStore.files(spark, root, v).length,
          SnapshotStore.deleteVectors(spark, root, v).length,
          UTF8String.fromString(
            SnapshotStore.writeModeOf(spark, root, v).getOrElse("cow")))
      }.toArray
      return Iterator[Scan](
        new ProcedureResultScan(resultSchema, rows)).asJava
    }
    val row: InternalRow = procName match {
      case "compact" =>
        val buckets = input.getInt(1)
        require(buckets >= 1, s"compact: buckets must be >= 1, got $buckets")
        val clusterCol = input.getUTF8String(2).toString
        val whereStr = input.getUTF8String(3).toString.trim
        val minFiles = input.getInt(4)
        val cur = SnapshotStore.currentVersion(spark, root)
        val before = SnapshotStore.files(spark, root, cur)
        // SCOPED COMPACTION (`where => '<pred>'`): rewrite only the files
        // the predicate ADMITS through the same manifest-metadata pruning
        // a scan uses (partition tuples + zone stats) — at 100 TB the
        // maintenance pass touches one partition's bytes, not the table's.
        // Admission is conservative (extra files may be rewritten — their
        // rows carry verbatim through the rewrite), and an untranslatable
        // predicate declines loudly rather than silently compacting
        // everything. `min_files => n` gates the rewrite on at least n
        // admitted inputs (the Iceberg rewrite_data_files knob): below it,
        // the call is a NO-OP — no commit, no version churn.
        val scoped: Seq[String] =
          if (whereStr.isEmpty) before
          else {
            val filters = GraftProcedures.filtersOf(spark, root, cur, whereStr)
            require(filters.nonEmpty,
              s"compact: where '$whereStr' translates to no pushable " +
                "filter - scoping would silently cover the whole table")
            SnapshotPartitions.prune(spark, root, cur, filters,
              SnapshotZones.prune(spark, root, cur, filters, before))
          }
        val scopedSet = scoped.map(SnapshotStore.uriPath).toSet
        if (scoped.isEmpty || scoped.size < minFiles) {
          // nothing admitted (or below the bin-packing floor): no-op
          return Iterator[Scan](new ProcedureResultScan(resultSchema,
            Array(InternalRow(cur, before.length, before.length, 0))))
            .asJava
        }
        // vector reconciliation FOLLOWS the scope: a dv file dies exactly
        // when every file it covers is being rewritten here; vectors over
        // out-of-scope files carry verbatim (their files are untouched)
        val cov = SnapshotStore.dvCoverage(spark, root, cur)
        val dvsDropped: Set[String] = cov.toSeq
          .flatMap { case (f, ds) => ds.map(d => (d, f)) }
          .groupBy(_._1).collect {
            // judge liveness-aware: covered files already dead (compacted
            // by an earlier scoped pass) don't pin the vector alive
            case (d, pairs) if pairs.map(_._2).toSet
                .intersect(before.map(SnapshotStore.uriPath).toSet)
                .subsetOf(scopedSet) =>
              SnapshotStore.uriPath(d)
          }.toSet
        val live = SnapshotStore.read(spark, root, cur,
          only = Some(scopedSet))
        val clusterCols = clusterCol.split(',').map(_.trim).filter(_.nonEmpty)
        require(clusterCols.length <= 4, "compact: cluster_col takes at " +
          "most 4 comma-separated columns (z-order interleave)")
        // the partition spec bound against the live schema: the rewrite
        // then routes through the SAME fanout writer the catalog INSERT
        // path uses, so EVERY spec shape (identity, days, bucket,
        // multi-item) keeps its per-file annotations through OPTIMIZE —
        // one rendering dialect, pruning and SPJ power survive. Range
        // partitioning leads with the partition SOURCE columns so each
        // task holds few open tuples (bounded writer memory).
        val bound = SnapshotStore.partitionSpecOf(spark, root, cur)
          .flatMap(PartitionSpec.parse)
          .flatMap(items => BoundPartItem.bind(items, live.schema))
        val partSrc = bound.map(_.map(_.item.col).distinct).getOrElse(Nil)
          .map(col)
        val clustered = clusterCols.length match {
          case 0 if partSrc.isEmpty => live.coalesce(buckets)
          case 0 => live.repartitionByRange(buckets, partSrc: _*)
          case 1 => live.repartitionByRange(buckets,
            partSrc :+ col(clusterCols(0)): _*)
          case k =>
            // OPTIMIZE ZORDER BY (a, b[, c, d]): interleave the keys into
            // one Morton value and range-cluster on it — every file then
            // bounds ALL interleaved dimensions, so a predicate on any of
            // them prunes (the multi-key stats sidecar persists the
            // bounds). Each dimension is min-max normalized to the same
            // bit width first: raw bit widths differ (orderkey ≫ custkey)
            // and an unbalanced interleave degenerates to single-key
            // clustering. 15 bits/dim up to 4 dims: ≤60-bit z, and 2^15
            // buckets of resolution per key — far beyond any useful file
            // count.
            val bits = math.min(15, 62 / k)
            // Normalization bounds come from the stats sidecar when every
            // scoped file carries EXACT long-kind bounds for every
            // interleave key (min of file los / max of file his IS the
            // global min/max): a manifest read instead of a full pass
            // over the live rows — at 100 TB the difference between
            // metadata and a table scan per OPTIMIZE ZORDER call. Falls
            // back to the aggregate scan when the sidecar is missing, a
            // key is unanalyzed/non-long, or any bound is inexact/open.
            val zoneBounds: Option[Seq[(Long, Long)]] = {
              val ts = SnapshotStore.statsTypedOf(spark, root, cur)
              val per = clusterCols.toSeq.map { c =>
                ts.get(c).filter(_.kind == "long").flatMap { st =>
                  val bs = scoped.map(p => st.byUri.get(SnapshotStore.uriPath(p)))
                  if (bs.nonEmpty && bs.forall(_.exists(b =>
                      b.exact && b.lo.isDefined && b.hi.isDefined)))
                    Some((bs.map(_.get.lo.get.toLong).min,
                      bs.map(_.get.hi.get.toLong).max))
                  else None
                }
              }
              if (per.forall(_.isDefined)) Some(per.map(_.get)) else None
            }
            def n(x: Any) = x.asInstanceOf[Number].longValue
            lazy val r = {
              val aggs = clusterCols.toSeq.flatMap(c => Seq(
                org.apache.spark.sql.functions.min(col(c)),
                org.apache.spark.sql.functions.max(col(c))))
              live.agg(aggs.head, aggs.tail: _*).head()
            }
            val bounds: Option[Seq[(Long, Long)]] = zoneBounds.orElse {
              if ((0 until k).exists(i => r.isNullAt(2 * i))) None
              else Some((0 until k).map(i =>
                (n(r.get(2 * i)), n(r.get(2 * i + 1)))))
            }
            if (bounds.isEmpty) live.coalesce(buckets)
            else {
              def norm(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
                org.apache.spark.sql.functions.least(
                  (c.cast("long") - org.apache.spark.sql.functions.lit(lo)) *
                    org.apache.spark.sql.functions.lit(1L << bits) /
                    org.apache.spark.sql.functions.lit(
                      math.max(1L, hi - lo + 1)),
                  org.apache.spark.sql.functions.lit((1L << bits) - 1))
              val z = graft.queries.Layout.zValueN(
                clusterCols.toSeq.zipWithIndex.map { case (c, i) =>
                  val (lo, hi) = bounds.get(i)
                  norm(col(c), lo, hi)
                }, bits)
              live.withColumn("__graft_z", z)
                .repartitionByRange(buckets, partSrc :+ col("__graft_z"): _*)
                .drop("__graft_z")
            }
        }
        // meta lines (schema, partition spec, write mode) carry VERBATIM;
        // the SCOPED data lines and the vectors they fully reconcile are
        // replaced by the clustered rewrite — out-of-scope data lines and
        // their vectors carry byte-identical (untouched partitions keep
        // their files). The rewrite runs through the catalog's one fanout
        // writer: on a partitioned table the new files KEEP their
        // per-file tuple annotations (pruning power survives OPTIMIZE);
        // an unpartitioned, unparseable or unbindable spec writes the
        // empty tuple, unannotated — conservative: such files are kept
        // unconditionally by pruning. A compaction of zero live rows
        // publishes no file (and stamps the schema if nothing else holds
        // it). A losing OCC committer deletes its freshly published files
        // (commitOrCleanup) instead of leaking them forever past vacuum's
        // manifest-referenced reach.
        val (newLines, newFiles) = SnapshotFanout.write(spark, root,
          clustered, bound.getOrElse(Nil), "opt")
        // a FULL-scope compact also reconciles equality deletes: every
        // rewritten file's epoch now postdates every eq sequence, so the
        // key tombstones address nothing — drop their lines. A scoped
        // compact keeps them (they still cover out-of-scope files).
        val isFull = scopedSet == before.map(SnapshotStore.uriPath).toSet
        val kept = SnapshotStore.linesReplacing(spark, root, cur, scopedSet)
          .filterNot(l => l.startsWith("dv:") && dvsDropped(
            SnapshotStore.uriPath(
              l.stripPrefix("dv:").split('\t').head)))
          .filterNot(l => isFull && l.startsWith("eq:"))
        // the commit is strict-OCC (never rebases), so its version is
        // cur+1 — stamp it dataChange=false: a compaction moves bytes,
        // never rows, and a change feed must emit nothing for it
        val v = SnapshotStore.commitOrCleanup(spark, root,
          SnapshotStore.linesKeepingSchema(kept ++ newLines,
            clustered.schema) :+ SnapshotStore.maintenanceLine(cur + 1),
          cur, newFiles)
        InternalRow(v, before.length,
          before.length - scoped.length + newFiles.length, dvsDropped.size)
      case "vacuum" =>
        val keep = input.getInt(1)
        // `older_than => '<ts>'`: time-based retention on the manifest-
        // mtime clock (the TIMESTAMP AS OF clock) — versions committed
        // at-or-after the cutoff survive regardless of `keep`
        val olderThan = input.getUTF8String(2).toString.trim
        val cutoff: Option[Long] =
          if (olderThan.isEmpty) None
          else Some(try
            java.sql.Timestamp.valueOf(olderThan).getTime
          catch { case _: IllegalArgumentException =>
            java.time.Instant.parse(olderThan).toEpochMilli
          })
        val (files, versions) = SnapshotStore.vacuum(spark, root, keep,
          cutoff)
        InternalRow(files.length, versions.length)
      case "analyze" =>
        // comma-separated keys build a MULTI-KEY sidecar (the z-order
        // companion: every interleaved dimension gets its bounds); an
        // EMPTY key list analyzes every supported-type top-level column
        // (the ANALYZE TABLE default)
        val explicit = input.getUTF8String(1).toString
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val keys =
          if (explicit.nonEmpty) explicit
          else {
            val schema = SnapshotStore.schemaOf(spark, root).getOrElse(
              SnapshotStore.inferredSchemaOf(spark,
                SnapshotStore.files(spark, root)))
            val all = schema.fields
              .filter(f => SnapshotStore.zoneSupported(f.dataType))
              .map(_.name).toSeq
            require(all.nonEmpty,
              "analyze: no zone-stats-capable columns in the table schema")
            all
          }
        SnapshotStore.writeStatsMulti(spark, root, keys)
        val v = SnapshotStore.attachSkipping(spark, root)
        InternalRow(v, SnapshotStore.files(spark, root).length.toLong)
      case "branch" =>
        val name = input.getUTF8String(1).toString
        val refs = SnapshotStore.refsOf(spark, root)
        require(!refs.get("main").exists(_.isDefined),
          "branch: `main` is already pinned — publish or drop the open " +
            "staging branch first")
        require(!refs.contains(name), s"branch: ref '$name' already exists")
        require(name != "main", "branch: 'main' is the default branch")
        val pinAt = SnapshotStore.currentVersion(spark, root)
        // two metadata commits: main pinned at the pre-branch version,
        // then the staging branch floating at the tip (each OCC-safe;
        // readers between them still resolve the pin)
        SnapshotStore.setRef(spark, root, "main", Some(pinAt))
        val v = SnapshotStore.setRef(spark, root, name, None)
        InternalRow(v, UTF8String.fromString(name),
          UTF8String.fromString(s"tip (main pinned at $pinAt)"))
      case "tag" =>
        val name = input.getUTF8String(1).toString
        val target = input.getInt(2)
        require(name != "main", "tag: 'main' is reserved for staging pins")
        val v = SnapshotStore.setRef(spark, root, name, Some(target))
        InternalRow(v, UTF8String.fromString(name),
          UTF8String.fromString(target.toString))
      case "publish" =>
        val name = input.getUTF8String(1).toString
        val refs = SnapshotStore.refsOf(spark, root)
        require(refs.get(name).exists(_.isEmpty),
          s"publish: '$name' is not an open (floating) staging branch")
        val tip = SnapshotStore.currentVersion(spark, root)
        // fast-forward: one commit drops BOTH the main pin and the
        // consumed branch marker — bare readers see the audited tip
        val v = SnapshotStore.dropRefs(spark, root, Seq("main", name))
        InternalRow(v, UTF8String.fromString(name),
          UTF8String.fromString(s"published $tip"))
      case "drop_ref" =>
        val name = input.getUTF8String(1).toString
        val v = SnapshotStore.dropRefs(spark, root, Seq(name))
        InternalRow(v, UTF8String.fromString(name),
          UTF8String.fromString("dropped"))
      case "rollback" =>
        val target = input.getInt(1)
        val v = SnapshotStore.rollbackTo(spark, root, target)
        InternalRow(v, target)
      case "remove_orphans" =>
        val grace = input.getLong(1)
        val removed = SnapshotStore.removeOrphans(spark, root, grace)
        InternalRow(removed.length)
      case "set_partition_spec" =>
        val raw = input.getUTF8String(1).toString.trim
        val newSpec = Option(raw).filter(_.nonEmpty).filter(_ != "none")
        // validate loudly BEFORE committing: the spec must parse and its
        // source columns must exist in the current schema
        newSpec.foreach { s =>
          val items = PartitionSpec.parse(s).getOrElse(
            throw new IllegalArgumentException(
              s"set_partition_spec: unparsable spec '$s'"))
          val schema = SnapshotStore.schemaOf(spark, root).getOrElse(
            SnapshotStore.inferredSchemaOf(spark,
              SnapshotStore.files(spark, root)))
          // bind validates column existence AND transform/type pairing
          BoundPartItem.bind(items, schema).getOrElse(
            throw new IllegalArgumentException(
              s"set_partition_spec: spec '$s' references columns absent " +
                "from the table schema"))
        }
        val oldSpec = SnapshotStore.partitionSpecOf(spark, root)
        val v = SnapshotStore.setPartitionSpec(spark, root, newSpec)
        InternalRow(v, UTF8String.fromString(oldSpec.getOrElse("")),
          UTF8String.fromString(newSpec.getOrElse("")))
      case _ =>
        val mode = input.getUTF8String(1).toString
        require(mode == "cow" || mode == "mor",
          s"set_write_mode: mode must be 'cow' or 'mor', got '$mode'")
        val v = SnapshotStore.setWriteMode(spark, root, mode)
        InternalRow(v, UTF8String.fromString(mode))
    }
    Iterator[Scan](new ProcedureResultScan(resultSchema, Array(row))).asJava
  }
}

/** One in-memory result set of a procedure call. */
class ProcedureResultScan(schema: StructType, resultRows: Array[InternalRow])
  extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = resultRows
  override def description(): String = "graft-procedure-result"
}

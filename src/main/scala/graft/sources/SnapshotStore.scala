package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SNAPSHOT LAYER over a directory of parquet data files — the manifest
  * mechanism every table format (and the reference's own commit protocol,
  * `ReduceRunner.java:113-122` via the graft-tsv `_SUCCESS` manifest) uses
  * to make multi-file mutation atomic, here generalized to VERSIONED
  * manifests so the copy-on-write family (q288-q290) gains what a bare
  * directory cannot give:
  *
  *  - ATOMIC COMMIT: a writer stages new data files, then publishes ONE
  *    manifest file `_graft_snapshots/v%05d.txt` (temp + rename — the
  *    filesystem's atomicity primitive). Readers resolve the max committed
  *    version and read exactly its file list: no reader ever sees a
  *    half-applied rewrite (the read-consistency hole the manifest-less
  *    q288 documents).
  *  - TIME TRAVEL: old versions' manifests AND data files stay on disk
  *    until vacuumed, so `read(root, v)` reproduces any historical
  *    snapshot bit-for-bit — rewrites APPEND new files, never delete.
  *  - OPTIMISTIC CONCURRENCY: `commit` takes the version the writer based
  *    its rewrite on; if another writer published meanwhile, the rename
  *    target exists and the commit fails with a conflict instead of
  *    silently clobbering (first-writer-wins, the standard OCC contract).
  *  - VACUUM: drop all but the newest `keep` versions and delete the data
  *    files no retained version references (the q218 generation-GC
  *    argument: new readers resolve only retained versions; the retention
  *    window covers in-flight readers of expired ones).
  *
  * At 100 TB: a manifest is |files| lines of driver-scale metadata; commit
  * cost is one rename regardless of table size; time travel and change
  * feeds (q304) are manifest DIFFS — they read only the files that
  * changed, never the table.
  */
object SnapshotStore {

  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The local-filesystem nio path of a `file:`-scheme Hadoop path. */
  private def nio(p: org.apache.hadoop.fs.Path): java.nio.file.Path =
    java.nio.file.Paths.get(p.toUri.getPath)

  private def isLocal(f: org.apache.hadoop.fs.FileSystem): Boolean =
    f.getScheme == "file"

  private def snapDir(root: String) =
    new org.apache.hadoop.fs.Path(root, "_graft_snapshots")

  private val VersionRe = "v(\\d{5})\\.txt".r

  /** Committed versions, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val d = snapDir(root)
    val f = fs(spark, d)
    if (!f.exists(d)) return Nil
    f.listStatus(d).map(_.getPath.getName).toSeq
      .collect { case VersionRe(n) => n.toInt }.sorted
  }

  def currentVersion(spark: SparkSession, root: String): Int =
    versions(spark, root).lastOption.getOrElse(0)

  /** A `dv:`-prefixed manifest line references a DELETE-VECTOR file (a
    * parquet of (file_path, row_index) tombstones) instead of a data
    * file — the merge-on-read half of the layer. Plain lines stay data
    * files, so every pre-DV manifest parses unchanged. */
  private val DvPrefix = "dv:"

  /** An `eq:`-prefixed line references an EQUALITY-DELETE file (a parquet
    * of key values): at sequence `seq=` it tombstones every row whose key
    * matches in any data file with an EARLIER write epoch (`sv=` < seq) —
    * the Iceberg-v2 equality-delete contract, the no-read-before-write
    * half of streaming upsert. Line shape:
    * `eq:<path>\tkeys=<urlenc,cols>\tseq=<v>\tlen=<n>` (seq/len stamped
    * at commit). Applied in scans as a key-set anti-probe BEFORE position
    * vectors; compaction reconciles both. */
  private val EqPrefix = "eq:"

  /** Is this line a non-data reference line (delete vector / equality
    * delete)? Meta lines are tested separately. */
  private def isAux(l: String): Boolean =
    l.startsWith(DvPrefix) || l.startsWith(EqPrefix)

  private def manifestLines(spark: SparkSession, root: String,
      version: Int): Seq[String] = {
    val v = if (version > 0) version else currentVersion(spark, root)
    require(v > 0, s"no committed snapshot under $root")
    val p = new org.apache.hadoop.fs.Path(snapDir(root), f"v$v%05d.txt")
    val in = fs(spark, p).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** PARTITION SPEC lines: `meta:partition=<col>` records the manifest's
    * partition column; a data line may carry its file's partition VALUE
    * as a tab suffix (`<path>\tpart=<value>`) — the Iceberg-style
    * per-file partition tuple, degenerate to one column. Both are
    * versioned WITH the manifest, so partition EVOLUTION is just a later
    * commit with a different spec: old versions keep pruning on their
    * own column, and a spec mismatch declines pruning (never rows). */
  private val MetaPrefix = "meta:"
  private val PartSuffix = "\tpart="

  /** A non-meta line's annotations: the path is the first tab-separated
    * token, everything after is `key=value` tokens in any order (`part=`,
    * `len=`, ...) — new annotation kinds parse past old readers, old
    * lines parse under new readers. A token WITHOUT '=' re-joins the
    * preceding value: legacy manifests could render a raw identity
    * partition value containing a tab (new writers reject those —
    * [[graft.catalog.PartitionSpec.encode]]), and truncating it at the
    * tab would make a later exact-match probe wrongly prune the file. */
  private def annots(line: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var lastKey: String = null
    line.split('\t').iterator.drop(1).foreach { t =>
      val i = t.indexOf('=')
      if (i > 0) { lastKey = t.substring(0, i); out(lastKey) = t.substring(i + 1) }
      else if (lastKey != null) out(lastKey) = out(lastKey) + "\t" + t
    }
    out.toMap
  }

  /** The path token of a (data, dv, or eq) manifest line. */
  private def pathOf(line: String): String =
    line.split('\t').head.stripPrefix(DvPrefix).stripPrefix(EqPrefix)

  /** The DATA file list of `version` (default: latest). */
  def files(spark: SparkSession, root: String, version: Int = -1): Seq[String] =
    manifestLines(spark, root, version)
      .filterNot(l => isAux(l) || l.startsWith(MetaPrefix))
      .map(_.split('\t').head)

  /** The delete-vector files of `version` (default: latest) — empty for
    * copy-on-write-only tables. */
  def deleteVectors(spark: SparkSession, root: String,
      version: Int = -1): Seq[String] =
    manifestLines(spark, root, version).collect {
      case l if l.startsWith(DvPrefix) => pathOf(l)
    }

  /** Per-file byte lengths recorded AT COMMIT (`len=` annotations on data
    * and dv lines), uri-path keyed: with them a scan plans its splits and
    * size statistics from the MANIFEST ALONE — zero per-file filesystem
    * round trips at plan time (the Iceberg/Delta manifest-stats contract;
    * at 10⁵-10⁶ files, serial namenode stats would dominate planning).
    * Files committed by pre-annotation manifests are simply absent —
    * consumers fall back to one `getFileStatus` for those. */
  def fileLens(spark: SparkSession, root: String,
      version: Int = -1): Map[String, Long] =
    manifestLines(spark, root, version)
      .filterNot(_.startsWith(MetaPrefix))
      .flatMap { l =>
        annots(l).get("len").flatMap(_.toLongOption)
          .map(uriPath(pathOf(l)) -> _)
      }.toMap

  /** Per-file ROW COUNTS (`rows=` annotations, recorded from the parquet
    * footer at commit), uri-path keyed — the scan's numRows statistics
    * come from the manifest alone. */
  def fileRows(spark: SparkSession, root: String,
      version: Int = -1): Map[String, Long] =
    manifestLines(spark, root, version)
      .filterNot(l => l.startsWith(MetaPrefix) || isAux(l))
      .flatMap { l =>
        annots(l).get("rows").flatMap(_.toLongOption)
          .map(uriPath(pathOf(l)) -> _)
      }.toMap

  /** Per-file WRITE-EPOCH schema versions (`sv=` annotations), uri-path
    * keyed — which manifest version's schema each data file was written
    * under; the resolution key for [[SchemaEvo]] rename/drop evolution.
    * Files committed before sv-stamping are absent (consumers treat them
    * as current-named; RENAME/DROP decline on such tables). */
  def fileSchemaVersions(spark: SparkSession, root: String,
      version: Int = -1): Map[String, Int] =
    manifestLines(spark, root, version)
      .filterNot(l => l.startsWith(MetaPrefix) || isAux(l))
      .flatMap { l =>
        annots(l).get("sv").flatMap(_.toIntOption)
          .map(uriPath(pathOf(l)) -> _)
      }.toMap

  /** Which delete-vector files tombstone which data files at `version`:
    * data-file uri-path → covering dv MANIFEST paths. ONE distributed
    * distinct over the vectors, so the driver result is FILE-count scale
    * (≤ |tombstoned files| × |covering dvs| pairs) — never
    * tombstone-count scale; the positions themselves are loaded and
    * applied EXECUTOR-side by the scan. */
  def dvCoverage(spark: SparkSession, root: String,
      version: Int = -1): Map[String, Seq[String]] = {
    val dvLines = manifestLines(spark, root, version)
      .filter(_.startsWith(DvPrefix))
    if (dvLines.isEmpty) return Map.empty
    // fast path: every dv line carries its coverage annotation (the
    // delta-DML writer records it at commit) — resolve from the manifest
    // alone, zero jobs
    val annotatedCovers = dvLines.map { l =>
      annots(l).get("covers").map(pathOf(l) -> _)
    }
    if (annotatedCovers.forall(_.isDefined)) {
      return annotatedCovers.flatten
        .flatMap { case (dvPath, enc) =>
          enc.split("\\|").toSeq.filter(_.nonEmpty).map(e =>
            uriPath(java.net.URLDecoder.decode(e, "UTF-8")) -> dvPath)
        }
        .groupBy(_._1)
        .map { case (f, ps) => f -> ps.map(_._2).distinct.sorted }
    }
    // legacy vectors (no coverage recorded): ONE distributed distinct
    // over the vector files — driver result stays FILE-count scale
    val dvs = dvLines.map(pathOf)
    import org.apache.spark.sql.functions.{col, input_file_name}
    val byUri = dvs.map(d => uriPath(d) -> d).toMap
    spark.read.parquet(dvs: _*)
      .select(col("file"), input_file_name().as("dvf"))
      .distinct().collect()
      .groupBy(r => uriPath(r.getString(0)))
      .map { case (f, rs) =>
        f -> rs.map(r => byUri(uriPath(r.getString(1)))).toSeq.distinct.sorted
      }
  }

  /** Render a delete-vector path as its manifest line. */
  def dvLine(path: String): String = DvPrefix + path

  /** One equality-delete reference: the key-file path, the key column
    * names, and its SEQUENCE — the commit version it landed in (stamped
    * at commit, like `sv=` on data lines): it tombstones matching keys in
    * every data file whose `sv` is strictly earlier, so an upsert's own
    * insert files (same commit ⇒ sv == seq) are never self-deleted. */
  case class EqDelete(path: String, keys: Seq[String], seq: Int)

  /** Render an equality-delete file + its key columns as a manifest line
    * (`seq=`/`len=` stamp at commit). */
  def eqLine(path: String, keys: Seq[String]): String = {
    require(keys.nonEmpty, "equality delete needs at least one key column")
    s"$EqPrefix$path\tkeys=${java.net.URLEncoder.encode(
      keys.mkString(","), "UTF-8")}"
  }

  /** `version`'s equality deletes — empty for tables that never saw a
    * no-read upsert. An unstamped line (foreign writer) declines loudly:
    * without a sequence there is no correct file set to apply it to. */
  def eqDeletes(spark: SparkSession, root: String,
      version: Int = -1): Seq[EqDelete] =
    manifestLines(spark, root, version).collect {
      case l if l.startsWith(EqPrefix) =>
        val a = annots(l)
        EqDelete(pathOf(l),
          a.get("keys").map(k => java.net.URLDecoder.decode(k, "UTF-8"))
            .getOrElse("").split(',').toSeq.filter(_.nonEmpty),
          a.get("seq").flatMap(_.toIntOption).getOrElse(
            throw new IllegalStateException(
              s"equality-delete line without a seq= stamp under $root: $l")))
    }

  /** Render a delete-vector line WITH its coverage annotation — which
    * data files its tombstones address (`covers=`, URL-encoded `|`-join).
    * Writers that know their coverage (the delta DML path does — each
    * task saw exactly the rows it tombstoned) record it here, and
    * [[dvCoverage]] then resolves pointers from manifest lines alone:
    * loading a merge-on-read table costs ZERO jobs and zero vector
    * reads. */
  def dvLineCovering(path: String, covers: Seq[String]): String =
    s"${DvPrefix}$path\tcovers=${covers.map(
      java.net.URLEncoder.encode(_, "UTF-8")).mkString("|")}"

  /** Render a data file + its partition value as its manifest line. */
  def partLine(path: String, value: String): String =
    s"$path$PartSuffix$value"

  /** Render the partition spec as its manifest meta line. */
  def partSpecLine(col: String): String = s"${MetaPrefix}partition=$col"

  /** `version`'s raw manifest lines with the data lines for `replaced`
    * (uri-path matched) removed and every other line — meta, delete
    * vectors, partition annotations — carried VERBATIM. The line-level
    * rewrite primitive for committers that replace data files without
    * understanding every annotation (the V2 catalog's commit). */
  def linesReplacing(spark: SparkSession, root: String, version: Int,
      replaced: Set[String]): Seq[String] =
    manifestLines(spark, root, version).filter { l =>
      l.startsWith(MetaPrefix) || isAux(l) ||
        !replaced(uriPath(l.split('\t').head))
    }

  /** SCHEMA meta line: `meta:schema=<StructType.json>` records the table
    * schema IN the manifest — the format-level home the `read(mergeSchema)`
    * scaladoc promises. With it, a table can exist EMPTY (CREATE TABLE
    * before any data file lands) and can evolve by commit (ALTER TABLE ADD
    * COLUMN = next manifest with a wider schema line): readers project the
    * manifest schema, null-filling columns absent from older files, and
    * never pay a footer-union scan. Versioned with the manifest, so time
    * travel reads each version under ITS OWN schema. */
  private val SchemaPrefix = s"${MetaPrefix}schema="

  /** Render the table schema as its manifest meta line. */
  def schemaLine(schema: org.apache.spark.sql.types.StructType): String =
    SchemaPrefix + schema.json

  /** `version`'s manifest-recorded schema, if present (pre-DDL manifests
    * carry none — consumers fall back to parquet footers). */
  def schemaOf(spark: SparkSession, root: String,
      version: Int = -1): Option[org.apache.spark.sql.types.StructType] =
    manifestLines(spark, root, version).collectFirst {
      case l if l.startsWith(SchemaPrefix) =>
        org.apache.spark.sql.types.DataType.fromJson(l.stripPrefix(SchemaPrefix))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  /** `lines` with any schema meta line replaced by `schema`'s — the ALTER
    * TABLE commit primitive (everything else carries verbatim). */
  def linesWithSchema(lines: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schemaLine(schema) +: lines.filterNot(_.startsWith(SchemaPrefix))

  /** `lines` stamped with `schema` when they hold neither a data line nor
    * a schema line: a rewrite that empties a pre-DDL root (whose schema
    * lived only in its data files' footers) still leaves a readable,
    * zero-row table under the schema it was written with. */
  def linesKeepingSchema(lines: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Seq[String] =
    if (lines.exists(l => l.startsWith(SchemaPrefix) ||
        !(l.startsWith(MetaPrefix) || isAux(l)))) lines
    else linesWithSchema(lines, schema)

  /** `version`'s meta lines only — what an INSERT OVERWRITE / TRUNCATE
    * carries forward: the schema and partition spec survive, every data
    * line and delete vector (which referenced the dropped data) goes. */
  def metaLines(spark: SparkSession, root: String,
      version: Int = -1): Seq[String] =
    manifestLines(spark, root, version).filter(_.startsWith(MetaPrefix))

  /** STREAM-EPOCH meta line: `meta:epoch=<queryId>:<epochId>` — the
    * high-water mark a streaming writer stamps into each commit, making
    * epoch replay (Structured Streaming's at-least-once redelivery after a
    * commit-then-crash) detectable: a replayed epoch finds its id already
    * ≤ the stamped mark and skips — exactly-once from at-least-once, the
    * same version-arithmetic idempotence the q324 foreachBatch path uses,
    * here as a property of the manifest itself. One mark per query id. */
  private val EpochPrefix = s"${MetaPrefix}epoch="

  /** Render a streaming writer's epoch high-water mark. */
  def epochLine(queryId: String, epoch: Long): String =
    s"$EpochPrefix$queryId:$epoch"

  /** The committed epoch high-water mark of `queryId`, if any. */
  def epochOf(spark: SparkSession, root: String, queryId: String,
      version: Int = -1): Option[Long] =
    manifestLines(spark, root, version).collectFirst {
      case l if l.startsWith(s"$EpochPrefix$queryId:") =>
        l.stripPrefix(s"$EpochPrefix$queryId:").toLong
    }

  /** `lines` with `queryId`'s epoch mark replaced by `epoch`'s. */
  def linesWithEpoch(lines: Seq[String], queryId: String,
      epoch: Long): Seq[String] =
    epochLine(queryId, epoch) +:
      lines.filterNot(_.startsWith(s"$EpochPrefix$queryId:"))

  /** MAINTENANCE meta line: `meta:maintenance=<version>` marks a commit
    * as dataChange=false (compaction — identical rows before and after),
    * Delta's per-file dataChange flag at commit grain: a change feed
    * emits NOTHING for a marked version. Markers carry forward through
    * every commit (the list is the maintenance history). */
  def maintenanceLine(v: Int): String = s"${MetaPrefix}maintenance=$v"

  /** The versions `version`'s manifest marks as maintenance commits. */
  def maintenanceVersionsOf(spark: SparkSession, root: String,
      version: Int = -1): Set[Int] =
    manifestLines(spark, root, version).iterator.flatMap { l =>
      if (l.startsWith(s"${MetaPrefix}maintenance="))
        l.stripPrefix(s"${MetaPrefix}maintenance=").toIntOption
      else None
    }.toSet

  /** NAMED REFS (branches and tags) as manifest meta lines:
    * `meta:ref=<name>=<version|tip>` — a PINNED ref targets one committed
    * version (a tag, or `main` during write-audit-publish staging); a
    * FLOATING ref (`tip`) tracks the latest commit (a branch head). Refs
    * live in the LATEST manifest (every commit path carries meta lines
    * verbatim, so they ride forward); updating one is an ordinary OCC
    * commit — the manifest chain is the ref audit log. The catalog reads
    * them two ways: a bare `graft.t` resolves through a pinned `main`
    * when one exists (readers never see staged work), and `VERSION AS OF
    * '<name>'` resolves any ref by name. Vacuum treats pinned targets as
    * retention roots. */
  private val RefPrefix = s"${MetaPrefix}ref="

  /** Floating-ref target marker. */
  private val RefTip = "tip"

  private val RefNameRe = "[A-Za-z][A-Za-z0-9_.-]*".r

  /** `version`'s named refs: name → Some(pinned version) | None (tip). */
  def refsOf(spark: SparkSession, root: String,
      version: Int = -1): Map[String, Option[Int]] =
    manifestLines(spark, root, version).iterator
      .filter(_.startsWith(RefPrefix))
      .flatMap { l =>
        val rest = l.stripPrefix(RefPrefix)
        val i = rest.lastIndexOf('=')
        if (i <= 0) None
        else {
          val target = rest.substring(i + 1)
          if (target == RefTip) Some(rest.substring(0, i) -> None)
          else target.toIntOption.map(v => rest.substring(0, i) -> Some(v))
        }
      }.toMap

  /** Render one ref meta line. */
  def refLine(name: String, target: Option[Int]): String =
    s"$RefPrefix$name=${target.map(_.toString).getOrElse(RefTip)}"

  /** Commit a ref update: `name` → `target` (Some = pinned version,
    * None = floating tip); every other line carries verbatim. Validates
    * the name shape (a ref must not shadow `VERSION AS OF <n>`) and that
    * a pinned target is actually committed. Returns the new version. */
  def setRef(spark: SparkSession, root: String, name: String,
      target: Option[Int]): Int = {
    require(RefNameRe.matches(name),
      s"ref name '$name' must match ${RefNameRe.regex}")
    val cur = currentVersion(spark, root)
    require(cur > 0, s"no committed snapshot under $root")
    target.foreach(v => require(versions(spark, root).contains(v),
      s"ref $name: version $v is not committed under $root"))
    val kept = manifestLines(spark, root, cur)
      .filterNot(_.startsWith(s"$RefPrefix$name="))
    commit(spark, root, refLine(name, target) +: kept, cur)
  }

  /** Commit the removal of refs `names`; absent names are a no-op within
    * the same commit. Returns the new version. */
  def dropRefs(spark: SparkSession, root: String,
      names: Seq[String]): Int = {
    val cur = currentVersion(spark, root)
    require(cur > 0, s"no committed snapshot under $root")
    val prefixes = names.map(n => s"$RefPrefix$n=")
    commit(spark, root, manifestLines(spark, root, cur)
      .filterNot(l => prefixes.exists(l.startsWith)), cur)
  }

  /** WRITE-MODE meta line: `meta:writemode=mor` opts the table's
    * row-level operations into MERGE-ON-READ — the V2 catalog then plans
    * DELETE/UPDATE/MERGE as delta writes (tombstone vectors + insert
    * files, cost ∝ changed rows) instead of group-based copy-on-write
    * (cost ∝ covering files). Versioned like every meta line; absent =
    * copy-on-write, so every existing table keeps its behavior. */
  private val ModePrefix = s"${MetaPrefix}writemode="

  /** Render the write mode as its manifest meta line. */
  def modeLine(mode: String): String = ModePrefix + mode

  /** `version`'s write mode, if the manifest records one. */
  def writeModeOf(spark: SparkSession, root: String,
      version: Int = -1): Option[String] =
    manifestLines(spark, root, version).collectFirst {
      case l if l.startsWith(ModePrefix) => l.stripPrefix(ModePrefix)
    }

  /** Commit a write-mode switch: every line carries verbatim, only the
    * mode meta line is replaced. Returns the new version. */
  def setWriteMode(spark: SparkSession, root: String, mode: String): Int = {
    val cur = currentVersion(spark, root)
    val kept = manifestLines(spark, root, cur)
      .filterNot(_.startsWith(ModePrefix))
    commit(spark, root, modeLine(mode) +: kept, cur)
  }

  /** Pin `version`'s commit time (manifest mtime, the TIMESTAMP-AS-OF
    * resolution key) — test/demo determinism; production commits keep
    * their natural publication time. */
  def setCommitTime(spark: SparkSession, root: String, version: Int,
      millis: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(snapDir(root), f"v$version%05d.txt")
    fs(spark, p).setTimes(p, millis, -1)
  }

  /** (version, commit-time millis) of every committed version, ascending —
    * manifest mtimes, the same clock every table format's
    * timestamp-travel resolves against. */
  def versionTimes(spark: SparkSession, root: String): Seq[(Int, Long)] = {
    val d = snapDir(root)
    val f = fs(spark, d)
    versions(spark, root).map { v =>
      v -> f.getFileStatus(
        new org.apache.hadoop.fs.Path(d, f"v$v%05d.txt")).getModificationTime
    }
  }

  /** `version`'s partition column, if the manifest records one. */
  def partitionSpecOf(spark: SparkSession, root: String,
      version: Int = -1): Option[String] =
    manifestLines(spark, root, version).collectFirst {
      case l if l.startsWith(s"${MetaPrefix}partition=") =>
        l.stripPrefix(s"${MetaPrefix}partition=")
    }

  /** `version`'s per-file partition values (uri-path keyed); files
    * without a recorded value are absent — consumers must keep them
    * unconditionally. */
  def partitionValuesOf(spark: SparkSession, root: String,
      version: Int = -1): Map[String, String] =
    manifestLines(spark, root, version).iterator
      .filterNot(l => isAux(l) || l.startsWith(MetaPrefix))
      .flatMap(l => annots(l).get("part").map(uriPath(pathOf(l)) -> _))
      .toMap

  /** `version`'s per-file partition-SPEC epochs (uri-path keyed):
    * `pspec=` annotations record which spec a file's `part=` value was
    * ENCODED under — stamped by [[setPartitionSpec]] onto every
    * pre-evolution data line, so after a spec change each file keeps
    * pruning under its OWN spec (files without the annotation are
    * current-spec). Without this, a days-encoded annotation decoded under
    * a later bucket spec could wrongly prune. */
  def partitionSpecEpochsOf(spark: SparkSession, root: String,
      version: Int = -1): Map[String, String] =
    manifestLines(spark, root, version).iterator
      .filterNot(l => isAux(l) || l.startsWith(MetaPrefix))
      .flatMap(l => annots(l).get("pspec").map(e =>
        uriPath(pathOf(l)) -> java.net.URLDecoder.decode(e, "UTF-8")))
      .toMap

  /** PARTITION-SPEC EVOLUTION as one metadata commit (Iceberg's spec
    * evolution contract): the `meta:partition=` line becomes `newSpec`
    * (or disappears for an empty spec), and every data line annotated
    * under the OLD spec that does not yet carry a `pspec=` epoch gets one
    * — its `part=` value keeps decoding under the spec that wrote it.
    * New writes land under the new spec; readers prune each file under
    * its own epoch; no data file is touched. Returns the new version. */
  def setPartitionSpec(spark: SparkSession, root: String,
      newSpec: Option[String]): Int = {
    val cur = currentVersion(spark, root)
    require(cur > 0, s"no committed snapshot under $root")
    val oldSpec = partitionSpecOf(spark, root, cur)
    val stamped = manifestLines(spark, root, cur).map { l =>
      if (l.startsWith(MetaPrefix) || isAux(l)) l
      else {
        val a = annots(l)
        if (!a.contains("part") || a.contains("pspec") || oldSpec.isEmpty) l
        else l + "\tpspec=" +
          java.net.URLEncoder.encode(oldSpec.get, "UTF-8")
      }
    }
    val withoutSpec = stamped.filterNot(_.startsWith(s"${MetaPrefix}partition="))
    commit(spark, root,
      newSpec.map(s => partSpecLine(s) +: withoutSpec).getOrElse(withoutSpec),
      cur)
  }

  /** The files of `version` whose partition value is `value` under spec
    * column `col` — declines to NO pruning when the version's spec is a
    * different column (partition evolution: stale predicates lose power,
    * never rows) or when a file carries no value. */
  def filesWherePartition(spark: SparkSession, root: String, col: String,
      value: String, version: Int = -1): Seq[String] = {
    val fl = files(spark, root, version)
    if (!partitionSpecOf(spark, root, version).contains(col)) return fl
    val pv = partitionValuesOf(spark, root, version)
    fl.filter(f => pv.get(uriPath(f)).forall(_ == value))
  }

  /** Write `df` partitioned by `partCol` as new data files, one group of
    * files per partition value, each annotated in the returned manifest
    * LINES (spec line + value-suffixed data lines). Bounded-cardinality
    * driver loop (the warehouse partition contract — status/date-grain
    * columns); a petabyte writer replaces the loop with one
    * dynamic-partitioned write, the manifest model is unchanged. */
  def writeDataPartitioned(spark: SparkSession, root: String, df: DataFrame,
      partCol: String, filesPerPart: Int, clusterCol: String,
      tag: String): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val values = df.select(col(partCol)).distinct()
      .collect().map(_.get(0).toString).sorted
    partSpecLine(partCol) +: values.flatMap { v =>
      writeData(spark, root,
        df.where(col(partCol) === v)
          .repartitionByRange(filesPerPart, col(clusterCol)),
        s"${tag}_$v").map(partLine(_, v))
    }.toSeq
  }

  /** Footer-inferred schema of a snapshot file SET, cached: data files
    * are immutable by construction (a rewrite commits NEW names), so the
    * inferred schema is a pure function of the list — and Spark's
    * inference is a Spark JOB per plan (measured ~0.1 s at local[32]),
    * paid on every un-DDL'd `read`/`schema` touch without this. */
  private[graft] def inferredSchemaOf(spark: SparkSession,
      fl: Seq[String]): org.apache.spark.sql.types.StructType = {
    val key = fl.sorted
    val hit = inferredSchemaCache.get(key)
    if (hit != null) return hit
    // One snapshot version's files share a schema (rewrites commit new
    // names; widened/evolved tables record their schema in the manifest
    // and never reach this path), so one FOOTER read on the driver is
    // Spark's own mergeSchema=false inference without the Spark job it
    // schedules. Fall back to stock inference on anything unexpected.
    val s = try {
      val p = new org.apache.hadoop.fs.Path(key.head)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, spark.sessionState.newHadoopConf())
      val footer = org.apache.spark.sql.execution.datasources.parquet
        .ParquetFooterReader.readFooter(in,
          org.apache.parquet.format.converter.ParquetMetadataConverter
            .SKIP_ROW_GROUPS)
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(footer.getFileMetaData.getSchema)
    } catch {
      case _: Throwable => spark.read.parquet(fl: _*).schema
    }
    inferredSchemaCache.put(key, s)
    s
  }

  private val inferredSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    Seq[String], org.apache.spark.sql.types.StructType]()

  /** Read snapshot `version` (default: latest). `mergeSchema` unions the
    * files' schemas (SCHEMA EVOLUTION: a rewrite may widen its files;
    * untouched files surface NULL for the added columns) — opt-in
    * because it reads every footer; at warehouse scale the evolved
    * schema belongs in the manifest, which is where a format-level
    * implementation would put it.
    *
    * MERGE-ON-READ: when the manifest carries delete vectors, the read
    * applies them — an anti-join of the scan's native
    * `_metadata.(file_path, row_index)` against the tombstone set. Data
    * files are never modified; the join cost is ∝ |tombstones|, and a
    * compaction ([[Lakehouse]] q304 machinery) reconciles vectors back to
    * clean files when they accumulate.
    *
    * `only` (uri-path set) restricts the read to a SUBSET of the
    * version's files — the scoped-compaction input: exactly those files'
    * live rows, their vectors applied, everything else untouched. */
  def read(spark: SparkSession, root: String, version: Int = -1,
      mergeSchema: Boolean = false,
      only: Option[Set[String]] = None): DataFrame = {
    val fl0 = files(spark, root, version)
    val fl = only match {
      case Some(s) => fl0.filter(f => s(uriPath(f)))
      case None => fl0
    }
    // A manifest-recorded schema (DDL-created or evolved tables) is
    // authoritative: read under it (older files null-fill added columns,
    // no footer union), and an EMPTY table reads as zero rows of it.
    val recorded = schemaOf(spark, root, version)
    import org.apache.spark.sql.functions.col
    // row identity for the DV anti-join must attach DIRECTLY above each
    // file scan (the `_metadata` pseudo-column does not survive unions)
    val dvs = deleteVectors(spark, root, version)
    val eqs = eqDeletes(spark, root, version)
    val needId = dvs.nonEmpty || eqs.nonEmpty
    def brand(df: DataFrame): DataFrame =
      if (!needId) df
      else df.withColumn("__row_file", normCol(col("_metadata.file_path")))
        .withColumn("__row_pos", col("_metadata.row_index"))
    val df = recorded match {
      case Some(s) if fl.isEmpty =>
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), s)
      case Some(s) if SchemaEvo.isTrivial(s) =>
        brand(spark.read.schema(s).parquet(fl: _*))
      case Some(s) =>
        // RENAMED/DROPPED columns: group files by their WRITE-EPOCH
        // physical schema ([[SchemaEvo]]), read each group under its own
        // names, re-alias positionally to the current names, and union —
        // old files keep resolving their data under whatever the column
        // was called when they were written
        val svs = fileSchemaVersions(spark, root, version)
        val cur = if (version > 0) version else currentVersion(spark, root)
        fl.groupBy(f =>
            SchemaEvo.physicalSchema(s, svs.getOrElse(uriPath(f), cur)))
          .map { case (phys, group) =>
            brand(spark.read.schema(phys).parquet(group: _*))
              .select(s.fields.toSeq.zip(phys.fields).map {
                // NESTED evolution: a struct read under epoch child names
                // casts back to the current type (struct casts are
                // positional — exactly the epoch↔current alignment)
                case (curF, physF) =>
                  val c = col(physF.name)
                  (if (physF.dataType == curF.dataType) c
                   else c.cast(curF.dataType)).as(curF.name)
              } ++ (if (!needId) Nil
                    else Seq(col("__row_file"), col("__row_pos"))): _*)
          }.reduce(_ unionByName _)
      case None if mergeSchema =>
        brand(spark.read.option("mergeSchema", "true").parquet(fl: _*))
      case None =>
        // no recorded schema (pre-DDL snapshot roots): supply the cached
        // inferred schema explicitly so repeated reads of the same
        // (immutable) file set skip the per-plan footer-inference job
        brand(spark.read.schema(inferredSchemaOf(spark, fl)).parquet(fl: _*))
    }
    if (!needId || fl.isEmpty) df
    else {
      val cols = df.columns.toSeq.filterNot(_.startsWith("__row_")).map(col)
      var out = df
      if (dvs.nonEmpty) {
        val tomb = tombstoneFrame(spark, dvs)
          .select(normCol(col("file")).as("__dv_file"),
            col("pos").as("__dv_pos"))
        out = out.join(tomb, col("__row_file") === col("__dv_file") &&
          col("__row_pos") === col("__dv_pos"), "left_anti")
      }
      if (eqs.nonEmpty) out = applyEqDeletes(spark, root, version, out, eqs, fl)
      out.select(cols: _*)
    }
  }

  /** Drop EQUALITY-DELETED rows from `df` (which carries a normalized
    * `__row_file`): a row dies when some eq delete whose sequence is
    * LATER than its file\u0027s write epoch matches its key — the scan-side
    * anti-probe (broadcast: eq sets are micro-batch-sized by
    * construction). Null keys match null-safely (Iceberg\u0027s contract). */
  private def applyEqDeletes(spark: SparkSession, root: String, version: Int,
      df: DataFrame, eqs: Seq[EqDelete], fl: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    val svs = fileSchemaVersions(spark, root, version)
    val pairs = fl.map(f => (uriPath(f), svs.getOrElse(uriPath(f), 0)))
    val svDf = spark.createDataFrame(pairs).toDF("__sv_file", "__row_sv")
    var out = df.join(broadcast(svDf),
      normCol(col("__row_file")) === col("__sv_file"), "left")
      .drop("__sv_file")
    eqs.groupBy(_.keys).foreach { case (keys, group) =>
      val eqDf = group.map(e =>
          spark.read.parquet(e.path).select(keys.map(col): _*)
            .withColumn("__eq_seq", lit(e.seq)))
        .reduce(_ unionByName _)
        .select(keys.map(k => col(k).as(s"__eq_$k")) :+ col("__eq_seq"): _*)
      val cond = keys.map(k => col(k) <=> col(s"__eq_$k")).reduce(_ && _) &&
        col("__eq_seq") > coalesce(col("__row_sv"), lit(0))
      out = out.join(broadcast(eqDf), cond, "left_anti")
    }
    out.drop("__row_sv")
  }

  /** The (file, pos) tombstone rows of a mixed-generation dv file list:
    * legacy per-position parquets read as-is; bitmap-generation files
    * (`dvb_` names — [[graft.catalog.PosBitmap]] payloads) decode
    * executor-side, one flatMap per bitmap row. */
  private[graft] def tombstoneFrame(spark: SparkSession,
      dvs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (bitmapDvs, legacyDvs) = dvs.partition(d =>
      new org.apache.hadoop.fs.Path(d).getName.startsWith("dvb"))
    val legacy =
      if (legacyDvs.isEmpty) None
      else Some(spark.read.parquet(legacyDvs: _*).select(col("file"),
        col("pos")))
    val decoded =
      if (bitmapDvs.isEmpty) None
      else {
        implicit val enc: org.apache.spark.sql.Encoder[(String, Array[Byte])] =
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.STRING,
            org.apache.spark.sql.Encoders.BINARY)
        implicit val outEnc: org.apache.spark.sql.Encoder[(String, Long)] =
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.STRING,
            org.apache.spark.sql.Encoders.scalaLong)
        Some(spark.read.parquet(bitmapDvs: _*)
          .select(col("file"), col("bm")).as[(String, Array[Byte])]
          .flatMap { case (f, bytes) =>
            graft.catalog.PosBitmap.positionsOf(
              graft.catalog.PosBitmap.deserialize(bytes)).map(p => (f, p))
          }.toDF("file", "pos"))
      }
    (legacy.toSeq ++ decoded.toSeq).reduce(_ unionByName _)
  }

  /** Column-expression edition of [[uriPath]] for the DV anti-joins:
    * strips the scheme (+authority) so `file:///x`, `file:/x`, and `/x`
    * all compare equal — different producers render the same file
    * differently (`_metadata.file_path` vs `FileStatus.getPath`). */
  private[graft] def normCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_replace(c,
      "^[a-zA-Z0-9+.-]+:(//[^/]*)?", "")

  /** Snapshot read carrying each LIVE row's (file, pos) identity as
    * `__row_file`/`__row_pos` — existing delete vectors already applied,
    * so a tombstone derived from this read can never double-delete. */
  def readWithRowId(spark: SparkSession, root: String,
      version: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.col
    val fl = files(spark, root, version)
    val base = spark.read.schema(inferredSchemaOf(spark, fl)).parquet(fl: _*)
      .withColumn("__row_file", col("_metadata.file_path"))
      .withColumn("__row_pos", col("_metadata.row_index"))
    val dvs = deleteVectors(spark, root, version)
    val afterDv =
      if (dvs.isEmpty) base
      else {
        val tomb = tombstoneFrame(spark, dvs)
          .select(normCol(col("file")).as("__dv_file"),
            col("pos").as("__dv_pos"))
        base.join(tomb, normCol(col("__row_file")) === col("__dv_file") &&
          col("__row_pos") === col("__dv_pos"), "left_anti")
      }
    val eqs = eqDeletes(spark, root, version)
    if (eqs.isEmpty) afterDv
    else applyEqDeletes(spark, root, version, afterDv, eqs,
      files(spark, root, version))
  }

  /** The tombstones a merge-on-read MERGE/DELETE adds: (file, pos) of the
    * live rows `cond` selects. */
  def tombstonesWhere(spark: SparkSession, root: String,
      cond: org.apache.spark.sql.Column, version: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.col
    readWithRowId(spark, root, version)
      .where(cond)
      .select(col("__row_file").as("file"), col("__row_pos").as("pos"))
  }

  /** Publish `fileList` as the next version after `expectedVersion`.
    * Fails with [[CommitConflictException]] if another writer committed
    * first (first-writer-wins OCC). Returns the new version.
    *
    * Publication must be BOTH content-atomic (a reader resolving the max
    * version never opens a half-written manifest) and exclusive (two
    * writers racing on the same version cannot both succeed). The
    * primitive differs by filesystem:
    *  - `file:`: POSIX `rename(2)` REPLACES an existing target, so
    *    exists+rename is a check-then-act race — instead publish with
    *    `Files.createLink(target, tmp)`: a hard link to the fully-written
    *    temp manifest appears atomically and fails with
    *    FileAlreadyExistsException when the target exists (O_EXCL-grade
    *    exclusivity, content complete by construction);
    *  - HDFS-like schemes: `FileSystem.rename` is atomic and returns
    *    false when the destination exists — the standard manifest-commit
    *    contract every table format relies on.
    */
  def commit(spark: SparkSession, root: String, fileList: Seq[String],
      expectedVersion: Int): Int = {
    val d = snapDir(root)
    val f = fs(spark, d)
    f.mkdirs(d)
    val next = expectedVersion + 1
    // Record each NEW file's byte length (`len=`) and write-epoch schema
    // version (`sv=`) in its line: carried lines already have theirs, so
    // the stat is paid ONCE per file lifetime at commit — every later
    // scan plans splits from the manifest with zero per-file FS round
    // trips, and schema evolution ([[SchemaEvo]]) knows which column
    // names each file was written under. Best-effort on len: a line
    // whose path can't be stat'd (synthetic tests, foreign schemes)
    // commits bare and consumers fall back per file.
    val annotated = fileList.map { l =>
      if (l.startsWith(MetaPrefix)) l
      else {
        val a = annots(l)
        val conf = spark.sparkContext.hadoopConfiguration
        val withLen =
          if (a.contains("len")) l
          else try {
            val p = new org.apache.hadoop.fs.Path(pathOf(l))
            s"$l\tlen=${p.getFileSystem(conf).getFileStatus(p).getLen}"
          } catch { case _: Exception => l }
        // data lines also record their ROW COUNT (one footer read at
        // commit) — numRows statistics then come from the manifest alone
        val withRows =
          if (isAux(l) || a.contains("rows")) withLen
          else try {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(pathOf(l)), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            val n = try r.getRecordCount finally r.close()
            s"$withLen\trows=$n"
          } catch { case _: Exception => withLen }
        // an equality delete's SEQUENCE is its commit version (the `sv=`
        // twin for key tombstones)
        if (l.startsWith(EqPrefix))
          (if (a.contains("seq")) withRows else s"$withRows\tseq=$next")
        else if (l.startsWith(DvPrefix) || a.contains("sv")) withRows
        else s"$withRows\tsv=$next"
      }
    }
    val tmp = new org.apache.hadoop.fs.Path(d,
      s".v$next.${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, false)
    try out.write((annotated.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val target = new org.apache.hadoop.fs.Path(d, f"v$next%05d.txt")
    val published =
      if (isLocal(f)) {
        try { java.nio.file.Files.createLink(nio(target), nio(tmp)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else !f.exists(target) && f.rename(tmp, target)
    f.delete(tmp, false) // no-op if rename already consumed it
    if (!published) throw new CommitConflictException(
      s"snapshot v$next already committed under $root " +
        s"(writer based on v$expectedVersion lost the race)")
    next
  }

  /** [[commit]] with loser hygiene: on an OCC conflict, delete the
    * freshly-published (but manifest-unreferenced) `published` files
    * before rethrowing — a losing committer that already renamed its
    * staged files into the root must not leak them, since vacuum only
    * collects files some manifest references. */
  def commitOrCleanup(spark: SparkSession, root: String, lines: Seq[String],
      expectedVersion: Int, published: Seq[String]): Int =
    try commit(spark, root, lines, expectedVersion)
    catch {
      case e: CommitConflictException =>
        val f = fs(spark, new org.apache.hadoop.fs.Path(root))
        published.foreach(p =>
          f.delete(new org.apache.hadoop.fs.Path(p), false))
        throw e
    }

  /** FIXTURE-STAGING helper: clone a committed LOCAL store into a fresh
    * root — byte-copy the data files and manifests (mtimes preserved:
    * they are the `TIMESTAMP AS OF` clock), rewriting the absolute root
    * prefix inside each text manifest. Lifecycle queries that stage the
    * same deterministic base store clone one session-staged copy instead
    * of re-running the staging Spark jobs per query (guide §1.2: remove
    * repeated work before tuning what remains). Declines loudly on
    * stores whose metadata embeds absolute paths OUTSIDE the manifests
    * (stats sidecars, delete vectors, equality deletes — parquet
    * payloads a textual rewrite cannot follow): fixtures are staged
    * BEFORE any analyze/DML, so none of those exist yet. */
  private[graft] def cloneRoot(spark: SparkSession, src: String,
      dst: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val srcDir = Paths.get(src)
    val dstDir = Paths.get(dst)
    Files.createDirectories(dstDir)
    // data files: byte-identical copies keep every manifest annotation
    // (len=, rows=, sv=) true for the clone
    val dataList = Files.list(srcDir)
    try dataList.forEach { p =>
      if (Files.isRegularFile(p))
        Files.copy(p, dstDir.resolve(p.getFileName),
          StandardCopyOption.COPY_ATTRIBUTES)
    } finally dataList.close()
    val srcSnap = srcDir.resolve("_graft_snapshots")
    val dstSnap = dstDir.resolve("_graft_snapshots")
    require(Files.isDirectory(srcSnap), s"cloneRoot: $src has no snapshots")
    Files.createDirectories(dstSnap)
    val snapList = Files.list(srcSnap)
    try snapList.forEach { p =>
      val name = p.getFileName.toString
      require(Files.isRegularFile(p) && name.endsWith(".txt"),
        s"cloneRoot: unexpected snapshot entry $name (stats sidecar or " +
          "binary metadata - stage fixtures before analyze/DML)")
      val lines = new String(Files.readAllBytes(p), "UTF-8")
      require(!lines.contains("\ndv:") && !lines.startsWith("dv:") &&
        !lines.contains("\neq:") && !lines.startsWith("eq:"),
        s"cloneRoot: $name carries delete vectors/equality deletes")
      val out = dstSnap.resolve(name)
      Files.write(out, lines.replace(src, dst).getBytes("UTF-8"))
      Files.setLastModifiedTime(out, Files.getLastModifiedTime(p))
    } finally snapList.close()
  }

  /** Write `df` as new data files under `root`, named uniquely per commit
    * attempt; returns their paths (NOT yet visible — only a manifest
    * commit publishes them). Staged through the Hadoop FileSystem API on
    * the ROOT'S OWN filesystem (an underscore-prefixed scratch dir inside
    * the root, invisible to scans), then renamed into place — rename
    * within one FS is a metadata op, and the layer works unchanged on any
    * scheme the rest of the engine targets, not just `file:`. */
  def writeData(spark: SparkSession, root: String, df: DataFrame,
      tag: String): Seq[String] = {
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = fs(spark, rootP)
    val run = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(rootP, s"_graft_stage_$run")
    try {
      df.write.parquet(staging.toString)
      publish(spark, root, f.listStatus(staging).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).map(_.toString).toSeq, s"${tag}_$run")
    } finally f.delete(staging, true)
  }

  /** THE driver-side publish of staged data files: rename `staged` (in the
    * given order) to `<root>/<prefix>_<i>.parquet` on the root's own
    * filesystem and return the new paths. Every data writer of the
    * snapshot layer ends here — [[writeData]], the catalog's fanout
    * writes, merge-on-read deltas and streaming epochs — so one naming
    * rule and one failure message cover them all. The files stay
    * invisible until a manifest commit references them. */
  def publish(spark: SparkSession, root: String, staged: Seq[String],
      prefix: String): Seq[String] = {
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = fs(spark, rootP)
    staged.zipWithIndex.map { case (p, i) =>
      val dst = new org.apache.hadoop.fs.Path(rootP, s"${prefix}_$i.parquet")
      require(f.rename(new org.apache.hadoop.fs.Path(p), dst),
        s"stage publish failed: $p -> $dst")
      dst.toString
    }.toList
  }

  // ---- per-file statistics in the manifest sidecar -------------------------
  //
  // What real formats store NEXT TO the file list: per-file [min, max] of
  // the clustering key, so a snapshot read with a key predicate opens only
  // admissible files — the SkippingIndexRule economics made a property of
  // the COMMIT (statistics are computed when the files are written and
  // versioned with them, so they can never go stale: a new version gets
  // new stats, an old version's stats describe exactly its frozen files).

  private def statsPath(root: String, v: Int) =
    new org.apache.hadoop.fs.Path(snapDir(root), f"v$v%05d_stats.parquet")

  /** Normalize a path string to its URI path — manifests carry plain
    * paths while `input_file_name()` and scan plumbing may carry `file:`
    * URIs; set comparisons go through this. */
  private[graft] def uriPath(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  /** One zone key's TYPED per-file bounds. `kind` names the canonical
    * bound domain the sidecar rendered into — "long" (integers), "micros"
    * (timestamps), "days" (dates), "string", "double", "decimal" — and
    * `dtJson` the key column's Spark type at analyze time (the decode key
    * for re-typing bounds). Bounds are canonical STRINGS; a side may be
    * OPEN (None — e.g. a >256-char string max is stored unbounded rather
    * than wrong). `exact` = both stored bounds are exactly the file's
    * min/max (metadata-only MIN/MAX requires exactness; pruning never
    * does — a truncated string lower bound still excludes correctly). */
  private[graft] case class TypedBounds(lo: Option[String],
      hi: Option[String], exact: Boolean)

  private[graft] case class TypedStats(kind: String, dtJson: String,
      byFile: Map[String, TypedBounds]) {
    /** uri-path-keyed view (manifest paths vs `input_file_name` URIs). */
    lazy val byUri: Map[String, TypedBounds] =
      byFile.map { case (f, b) => uriPath(f) -> b }
  }

  /** `version`'s stats sidecar in the TYPED model — key column →
    * [[TypedStats]]; empty when the sidecar is missing or empty. Reads
    * both sidecar generations: the typed layout (string bounds + kind +
    * dt columns) and the legacy long-typed layout (surfaced as kind
    * "long"; legacy non-long sidecars decline whole, as they always
    * did). A sidecar may carry SEVERAL keys (multi-dimensional layouts:
    * z-order compaction bounds every interleaved dimension); the V2
    * catalog scan ([[graft.catalog.SnapshotZones]]) intersects pruning
    * across all constrained keys. */
  private[graft] def statsTypedOf(spark: SparkSession, root: String,
      version: Int = -1): Map[String, TypedStats] = {
    val v = if (version > 0) version else currentVersion(spark, root)
    val sp = statsPath(root, v)
    val f = fs(spark, sp)
    if (v <= 0 || !f.exists(sp)) return Map.empty
    // The sidecar is |files|×|keys| rows of driver-scale metadata, but a
    // `spark.read.parquet(...).collect()` of it costs a full plan cycle
    // plus TWO Spark jobs (footer inference, then the collect) — measured
    // ~0.15 s per call at local[32], and zone-pruned scan planning calls
    // this once per (root, version) touch. Read it like every production
    // table format reads manifests: directly on the driver (parquet-hadoop
    // Group API), cached by the part files' (name, len, mtime) fingerprint
    // so an in-place re-analyze of the same version misses cleanly.
    val parts = f.listStatus(sp).filter { s =>
      val n = s.getPath.getName
      s.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith(".")
    }.sortBy(_.getPath.getName)
    val key = (sp.toString,
      parts.map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSeq)
    val hit = statsCache.get(key)
    if (hit != null) return hit
    val out = parseSidecar(readSidecarGroups(spark, parts.map(_.getPath)))
    statsCache.put(key, out)
    out
  }

  private val statsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[(String, Long, Long)]), Map[String, TypedStats]]()

  /** Raw sidecar rows, read driver-side: (file, lo, hi, key, exact) plus
    * (kind, dt) when the TYPED columns exist (legacy sidecars carry
    * INT64 lo/hi and no kind — surfaced with kind=null, lo/hi rendered
    * as strings only when the physical type IS int64, mirroring the old
    * "long-keyed or decline" rule). A None in lo/hi is a parquet null. */
  private def readSidecarGroups(spark: SparkSession,
      parts: Seq[org.apache.hadoop.fs.Path])
      : Seq[(String, Option[String], Option[String], String,
             Option[String], Option[String], Option[Boolean])] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val conf = spark.sessionState.newHadoopConf()
    val out = scala.collection.mutable.ArrayBuffer.empty[
      (String, Option[String], Option[String], String,
       Option[String], Option[String], Option[Boolean])]
    parts.foreach { p =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), p).withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          val t = g.getType
          def str(name: String): Option[String] =
            if (!t.containsField(name) || g.getFieldRepetitionCount(name) == 0)
              None
            else Some(g.getString(name, 0))
          val typed = t.containsField("kind")
          val loHiLong = !typed &&
            t.getType("lo").asPrimitiveType().getPrimitiveTypeName ==
              PrimitiveTypeName.INT64
          def bound(name: String): Option[String] =
            if (g.getFieldRepetitionCount(name) == 0) None
            else if (typed) Some(g.getString(name, 0))
            else if (loHiLong) Some(g.getLong(name, 0).toString)
            else None // legacy non-long sidecar: decline (as before)
          val exact =
            if (!t.containsField("exact") ||
                g.getFieldRepetitionCount("exact") == 0) None
            else Some(g.getBoolean("exact", 0))
          if (typed || loHiLong)
            out += ((g.getString("file", 0), bound("lo"), bound("hi"),
              g.getString("key", 0), str("kind"), str("dt"), exact))
          g = reader.read()
        }
      } finally reader.close()
    }
    out.toSeq
  }

  private def parseSidecar(
      rows: Seq[(String, Option[String], Option[String], String,
                 Option[String], Option[String], Option[Boolean])])
      : Map[String, TypedStats] = {
    val (typedRows, legacyRows) = rows.partition(_._5.isDefined)
    val typed = typedRows.groupBy(_._4).flatMap { case (key, rs) =>
      val kinds = rs.map(_._5.get).distinct
      val dts = rs.flatMap(_._6).distinct
      // a typed row missing dt is malformed and declines the whole key,
      // exactly as two distinct dt strings would
      if (kinds.length != 1 || dts.length != 1 ||
          !rs.forall(_._6.isDefined)) None // malformed: decline
      else Some(key -> TypedStats(kinds.head, dts.head,
        rs.flatMap { case (file, lo, hi, _, _, _, exact) =>
          // an all-null key column yields null bounds: no usable
          // interval — drop the row; consumers keep the file
          if (lo.isEmpty && hi.isEmpty) None
          else Some(file -> TypedBounds(lo, hi, exact.getOrElse(false)))
        }.toMap))
    }
    // legacy sidecar: long-typed lo/hi, always-exact bounds (as before);
    // rows with a null bound side were filtered out of the legacy model
    val legacy = legacyRows
      .filter(r => r._2.isDefined && r._3.isDefined)
      .groupBy(_._4).map { case (key, rs) =>
        key -> TypedStats("long", org.apache.spark.sql.types.LongType.json,
          rs.map(r => r._1 -> TypedBounds(r._2, r._3, exact = true)).toMap)
      }
    legacy ++ typed
  }

  /** The integer-domain view of [[statsTypedOf]]: key column → (uri-path
    * → [lo, hi] as longs) for keys whose canonical domain IS a long
    * (integers, timestamp micros, date epoch-days). Non-integer keys keep
    * their ENTRY with an empty map — consumers see the key exists (so a
    * single-key signature never silently prunes by the wrong key) but get
    * no bounds from this view; typed consumers go through
    * [[statsTypedOf]]. */
  private[graft] def statsAllOf(spark: SparkSession, root: String,
      version: Int = -1): Map[String, Map[String, (Long, Long)]] =
    statsTypedOf(spark, root, version).map { case (key, ts) =>
      key -> (if (!Set("long", "micros", "days").contains(ts.kind)) {
        Map.empty[String, (Long, Long)]
      } else ts.byFile.flatMap { case (f, b) =>
        for {
          l <- b.lo.flatMap(_.toLongOption)
          h <- b.hi.flatMap(_.toLongOption)
        } yield uriPath(f) -> ((l, h))
      })
    }

  /** Single-key view of the sidecar (the first key, rows filtered to it —
    * a multi-key sidecar must never mix keys' bounds into one map). */
  private[graft] def statsOf(spark: SparkSession, root: String,
      version: Int = -1): Option[(String, Map[String, (Long, Long)])] = {
    val all = statsAllOf(spark, root, version)
    all.keys.toSeq.sorted.headOption.map(k => (k, all(k)))
  }

  /** Does `dt` have a canonical zone-stats bound domain? (The analyze
    * procedure's all-columns default filters by this.) */
  def zoneSupported(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | TimestampType |
           DateType | StringType | FloatType | DoubleType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Compute and persist per-file [min, max] of `keyCol` for `version`
    * (default: latest) — one aggregate over the snapshot's files. The
    * sidecar records the column name so [[attachSkipping]] can turn it
    * into a transparent optimizer-rule zone index. */
  def writeStats(spark: SparkSession, root: String, keyCol: String,
      version: Int = -1): Unit =
    writeStatsMulti(spark, root, Seq(keyCol), version)

  /** The canonical bound encodings of one key column — the TYPED bound
    * model (Iceberg's lower/upper-bound contract): integers render as
    * longs, timestamps as epoch MICROS, dates as epoch DAYS, floats as
    * doubles, decimals as plain decimal strings; strings store a
    * ≤256-char lower bound (a truncated PREFIX is still a valid lower
    * bound in binary order) and leave the upper bound OPEN past 256 chars
    * (an open side prunes less, never wrong). Returns (lo, hi, exact,
    * kind) — `exact` marks bounds that ARE the file's min/max (what
    * metadata-only MIN/MAX requires). Declines loudly on types without a
    * modeled canonical domain. */
  private def canonicalBounds(lo: org.apache.spark.sql.Column,
      hi: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
         org.apache.spark.sql.Column, String) = {
    import org.apache.spark.sql.functions.{coalesce, datediff, length, lit, substring, unix_micros, when}
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        (lo.cast("long").cast("string"), hi.cast("long").cast("string"),
          lit(true), "long")
      case TimestampType =>
        (unix_micros(lo).cast("string"), unix_micros(hi).cast("string"),
          lit(true), "micros")
      case DateType =>
        val epoch = lit("1970-01-01").cast(DateType)
        (datediff(lo, epoch).cast("long").cast("string"),
          datediff(hi, epoch).cast("long").cast("string"), lit(true), "days")
      case StringType =>
        (substring(lo, 1, 256), when(length(hi) <= 256, hi),
          coalesce(length(lo) <= 256 && length(hi) <= 256, lit(false)),
          "string")
      case FloatType | DoubleType =>
        (lo.cast("double").cast("string"), hi.cast("double").cast("string"),
          lit(true), "double")
      case _: DecimalType =>
        (lo.cast("string"), hi.cast("string"), lit(true), "decimal")
      case other => throw new UnsupportedOperationException(
        s"graft analyze: unsupported zone-stats key type $other (supported: " +
          "integers, timestamp, date, string, float/double, decimal)")
    }
  }

  /** Multi-key edition: one aggregate computes [min, max] for EVERY key
    * per file; the sidecar carries one row per (file, key), bounds
    * rendered into the key's canonical TYPED domain ([[canonicalBounds]])
    * — `events.ts`-style timestamp/date/string keys zone-prune and answer
    * metadata MIN/MAX exactly like integer keys. The layout a z-order
    * compaction produces bounds all interleaved dimensions, and this is
    * where those bounds get persisted for plan-time pruning. */
  def writeStatsMulti(spark: SparkSession, root: String,
      keyCols: Seq[String], version: Int = -1): Unit = {
    import org.apache.spark.sql.functions.{col, input_file_name, lit, max, min}
    require(keyCols.nonEmpty, "writeStatsMulti: at least one key column")
    val v = if (version > 0) version else currentVersion(spark, root)
    // stats read files by their FOOTER names: a table holding files from
    // pre-rename epochs would silently null the renamed column for those
    // files and record partial (too-narrow — row-losing) bounds. Decline
    // loudly; compaction rewrites everything under current names.
    schemaOf(spark, root, v).filterNot(SchemaEvo.isTrivial).foreach { s =>
      val svs = fileSchemaVersions(spark, root, v)
      val curPhys = SchemaEvo.physicalSchema(s, v)
      require(files(spark, root, v).forall(f =>
        SchemaEvo.physicalSchema(s, svs.getOrElse(uriPath(f), v)) == curPhys),
        "writeStats: table holds files written under pre-rename schemas - " +
          "run compact first (footer-name stats would record partial bounds)")
    }
    val aggs = keyCols.flatMap(k =>
      Seq(min(col(k)).as(s"__lo_$k"), max(col(k)).as(s"__hi_$k")))
    // read under the manifest-recorded schema when one exists: a
    // type-widened table holds files of MIXED physical widths (INT32 +
    // INT64), which a footer-inferred read would refuse; the recorded
    // schema up-casts old files in place (and bounds come out in the
    // CURRENT — widest — domain, which is what consumers compare in)
    val statFiles = files(spark, root, v)
    val reader = schemaOf(spark, root, v) match {
      case Some(s) => spark.read.schema(s)
      case None => spark.read.schema(inferredSchemaOf(spark, statFiles))
    }
    val perFile = reader.parquet(statFiles: _*)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
    // ONE row-expansion over the single aggregate, not a per-key UNION:
    // column pruning made each union branch its own (file, one-key) scan
    // + hash-agg pass, so a k-key analyze scanned the table k times
    // (measured: 3 concurrent one-column jobs on q341's 3-key analyze).
    // Exploding an array of per-key bound structs keeps it to the one
    // pass the aggregate already is — at 100 TB, analyze cost no longer
    // multiplies by the z-order key count. All-string bound columns as
    // before: keys of DIFFERENT types land in one sidecar uncoerced.
    import org.apache.spark.sql.functions.{array, explode, struct}
    val boundStructs = keyCols.map { k =>
      val dt = perFile.schema(s"__lo_$k").dataType
      val (lo, hi, exact, kind) =
        canonicalBounds(col(s"__lo_$k"), col(s"__hi_$k"), dt)
      struct(lo.as("lo"), hi.as("hi"), lit(k).as("key"),
        lit(kind).as("kind"), lit(dt.json).as("dt"), exact.as("exact"))
    }
    perFile.select(col("file"), explode(array(boundStructs: _*)).as("b"))
      .select(col("file"), col("b.lo").as("lo"), col("b.hi").as("hi"),
        col("b.key").as("key"), col("b.kind").as("kind"),
        col("b.dt").as("dt"), col("b.exact").as("exact"))
      .coalesce(1).write.mode("overwrite")
      .parquet(statsPath(root, v).toString)
  }

  /** Register `version`'s (default: latest) stats sidecar as a
    * TRANSPARENT zone index with [[graft.plans.SkippingIndexRule]]: a
    * plain key-filtered `read(root)` then gets its file pruning from the
    * OPTIMIZER RULE — no `filesWhere` call in user code (q306's manual
    * consultation made automatic; q310 grades it from the optimized
    * plan). Versioned stats cannot lie: data files are immutable (a
    * rewrite creates NEW names), so a later commit's unknown files are
    * simply kept unconditionally until the caller re-attaches the newer
    * version's stats — pruning power follows the attached version,
    * correctness never does. Returns the attached version, or -1 when
    * that version has no sidecar. */
  def attachSkipping(spark: SparkSession, root: String,
      version: Int = -1): Int = {
    val v = if (version > 0) version else currentVersion(spark, root)
    val typed = statsTypedOf(spark, root, v)
    if (typed.isEmpty) return -1
    // multi-key sidecars: register the FIRST key's map (the rule holds one
    // zone map per root); the V2 catalog scan intersects ALL keys itself
    val keyCol = typed.keys.min
    val ts = typed(keyCol)
    val dt = org.apache.spark.sql.types.DataType.fromJson(ts.dtJson)
    // decode canonical bounds back to EXTERNAL values of the key's own
    // type (the rule converts to Catalyst internal form and compares with
    // the type's interpreted ordering); open-bounded files are left out —
    // the rule keeps unknown files unconditionally
    val zones = ts.byFile.flatMap { case (f, b) =>
      for {
        lo <- b.lo.flatMap(externalBoundOf(_, ts.kind, dt))
        hi <- b.hi.flatMap(externalBoundOf(_, ts.kind, dt))
      } yield f -> ((lo, hi))
    }
    graft.plans.SkippingIndexRule.registerZoneMapEntries(spark, root, keyCol,
      dt, zones)
    v
  }

  /** A canonical bound string decoded to the EXTERNAL Scala value of the
    * key's Spark type — what `CatalystTypeConverters` expects. None on any
    * mismatch (the bound is then treated as open — kept files, never lost
    * rows). */
  private[graft] def externalBoundOf(s: String, kind: String,
      dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    (kind, dt) match {
      case ("long", LongType) => s.toLongOption
      case ("long", IntegerType) => s.toIntOption
      case ("long", ShortType) => s.toShortOption
      case ("long", ByteType) => s.toByteOption
      case ("micros", TimestampType) => s.toLongOption.map(us =>
        java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L))
      case ("days", DateType) =>
        s.toLongOption.map(d => java.time.LocalDate.ofEpochDay(d))
      case ("string", StringType) => Some(s)
      case ("double", DoubleType) => s.toDoubleOption.filterNot(_.isNaN)
      case ("double", FloatType) =>
        s.toDoubleOption.filterNot(_.isNaN).map(_.toFloat)
      case ("decimal", _: DecimalType) =>
        try Some(new java.math.BigDecimal(s))
        catch { case _: NumberFormatException => None }
      case _ => None
    }
  }

  /** Drop this session's transparent-skipping registration for `root`. */
  def dropSkipping(spark: SparkSession, root: String): Unit =
    graft.plans.SkippingIndexRule.drop(spark, root)

  /** The files of `version` admissible for keyCol ∈ [lo, hi]: interval
    * overlap against the sidecar stats; files without a stats row (or a
    * missing sidecar) are kept unconditionally — pruning loses power,
    * never rows. */
  def filesWhere(spark: SparkSession, root: String, lo: Long, hi: Long,
      version: Int = -1): Seq[String] = {
    val fl = files(spark, root, version)
    val all = statsAllOf(spark, root, version)
    // the anonymous-key signature is only safe against a SINGLE-key
    // sidecar: pruning a multi-key sidecar by whichever key sorts first
    // would drop files that DO hold matching rows of the intended key —
    // decline to no pruning (rows before power); key-aware callers go
    // through statsAllOf or the catalog scan's per-key intersection
    if (all.size != 1) return fl
    val byFile = all.head._2
    fl.filter { f =>
      byFile.get(uriPath(f)) match {
        case Some((l, h)) => !(h < lo || l > hi)
        case None => true
      }
    }
  }

  /** ROLLBACK: restore `version`'s state as a NEW commit — its data/dv/
    * meta lines verbatim, with the CURRENT refs carried (tags must
    * survive an undo). History stays intact: the bad commits remain
    * time-travelable until vacuumed, exactly Iceberg's
    * rollback_to_snapshot contract. Declines while a staging `main` pin
    * is open (rolling back under an open branch would tangle the pin).
    * Returns the new version. */
  def rollbackTo(spark: SparkSession, root: String, version: Int): Int = {
    val cur = currentVersion(spark, root)
    require(versions(spark, root).contains(version),
      s"rollback: version $version is not committed under $root")
    require(!refsOf(spark, root).get("main").exists(_.isDefined),
      "rollback: `main` is pinned (open staging branch) — publish or " +
        "drop it first")
    val restored = manifestLines(spark, root, version)
      .filterNot(_.startsWith(RefPrefix))
    val refs = manifestLines(spark, root, cur).filter(_.startsWith(RefPrefix))
    commit(spark, root, refs ++ restored, cur)
  }

  /** ORPHAN-FILE CLEANUP: delete top-level root files that (a) no
    * RETAINED manifest references, (b) are not manifests/sidecars
    * themselves, and (c) are older than `graceMs` (the window protecting
    * a writer that has renamed its staged files but not yet committed —
    * the crash-leak this procedure exists for happens when that commit
    * never comes). Live data is untouchable by construction: every
    * referenced path is excluded. Returns the deleted paths. */
  def removeOrphans(spark: SparkSession, root: String,
      graceMs: Long): Seq[String] = {
    val all = versions(spark, root)
    if (all.isEmpty) return Nil
    val referenced = all.flatMap(v => manifestLines(spark, root, v))
      .filterNot(_.startsWith(MetaPrefix))
      .map(l => uriPath(pathOf(l))).toSet
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = fs(spark, rootP)
    val cutoff = System.currentTimeMillis() - graceMs
    f.listStatus(rootP).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".") &&
        s.getModificationTime < cutoff &&
        !referenced(uriPath(s.getPath.toString)))
      .map { s => f.delete(s.getPath, false); s.getPath.toString }
  }

  /** Retain the newest `keep` versions; delete expired manifests and every
    * data file no retained version references. Returns (removed data
    * files, removed versions).
    *
    * `olderThanMs` adds TIME-BASED retention (Iceberg's
    * `expire_snapshots(older_than)` / Delta VACUUM retention): versions
    * whose manifest was committed AT-OR-AFTER the cutoff are retained
    * regardless of count — the clock is the manifest mtime, exactly what
    * `TIMESTAMP AS OF` resolves against, so "every snapshot a timestamp
    * travel inside the window can reach" survives by construction. The
    * newest `keep` versions and pinned-ref targets stay retention roots
    * either way. */
  def vacuum(spark: SparkSession, root: String,
      keep: Int, olderThanMs: Option[Long] = None): (Seq[String], Seq[Int]) = {
    require(keep >= 1, "vacuum must keep at least the latest snapshot")
    val all = versions(spark, root)
    if (all.isEmpty) return (Nil, Nil) // never-committed root: nothing to GC
    // pinned refs (tags, a staged `main`) are RETENTION ROOTS: their
    // target manifests — and therefore every data file those reference —
    // survive any retention window (the table-format contract: a tag
    // means "keep this snapshot readable")
    val pinned = refsOf(spark, root).values.flatten.toSet
    val inWindow = olderThanMs.map(cut =>
      versionTimes(spark, root).filter(_._2 >= cut).map(_._1).toSet)
      .getOrElse(Set.empty)
    val retained = all.takeRight(keep).toSet ++ pinned ++ inWindow
    val expired = all.filterNot(retained)
    if (expired.isEmpty) return (Nil, Nil)
    // delete-vector files are references too: a DV lives exactly as long
    // as some retained manifest carries it; partition annotations and
    // meta lines are not paths
    def refs(v: Int) = manifestLines(spark, root, v)
      .filterNot(_.startsWith(MetaPrefix))
      .map(pathOf)
    val live = all.filter(retained).flatMap(refs).toSet
    val doomed = expired.flatMap(refs).distinct.filterNot(live)
    val f = fs(spark, new org.apache.hadoop.fs.Path(root))
    doomed.foreach(p =>
      f.delete(new org.apache.hadoop.fs.Path(p), false))
    expired.foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(snapDir(root), f"v$v%05d.txt"),
        false)
      f.delete(statsPath(root, v), true) // stats die with their version
    }
    (doomed, expired)
  }
}

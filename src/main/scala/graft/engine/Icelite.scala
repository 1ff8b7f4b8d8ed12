package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Minimal Iceberg-style table layer over Parquet ("icelite"): snapshot
  * manifests with per-partition lineage + metrics, atomic commits via
  * temp-file rename, manifest-driven resumable writes and appends,
  * row-level equality deletes ([[deleteRowsResumable]] — the Iceberg
  * delete-file analogue, applied as bucket-scoped anti-joins at read
  * time), content-verified bucket compaction (which also rewrites
  * standing deletes away physically), snapshot time travel
  * ([[readAsOf]]), file-diff incremental reads, and orphan reclamation
  * ([[vacuum]]). Reads are FILE-precise — only manifest-listed files are
  * ever opened — which is what makes appends, compaction and historical
  * reads sound without locks: data files are immutable once committed,
  * and a superseding manifest entry (last-wins across segments) is the
  * only thing that changes what a reader sees.
  *
  * Layout (Iceberg-style manifest list + append-only manifest segments):
  * {{{
  *   <root>/data/<part>=<value>/part-*.parquet
  *   <root>/manifest/seg-<n>.json           (immutable entry batch)
  *   <root>/manifest/snapshot-<n>.json      (lists its segment files)
  *   <root>/manifest/CURRENT                (points at latest snapshot)
  * }}}
  *
  * Commits append a NEW segment and write a snapshot that lists all
  * segment names — entry data is never rewritten, so total manifest I/O
  * is O(buckets), not O(buckets^2) as an inline-entries snapshot would be
  * at ~41k buckets.
  *
  * A resumable job processes one bucket (partition value) at a time; each
  * completed bucket is recorded in the manifest with row counts and a
  * content checksum. Restarting skips every bucket already present —
  * the kill/restart test in IceliteSpec asserts identical output and no
  * recomputation.
  */
object Icelite {

  /** `rows`/`checksum`/`colStats` describe the DATA files' content;
    * `deleteFiles` hold equality-delete rows (columns: the partition
    * column + `deleteKey`) applied as a bucket-scoped anti-join at read
    * time and physically compacted away by [[compactBuckets]]. */
  final case class PartitionEntry(value: String, rows: Long, checksum: Long,
                                  files: Seq[String], durationMs: Long = 0,
                                  lineage: String = "",
                                  colStats: Map[String, (Long, Long)] = Map.empty,
                                  deleteFiles: Seq[String] = Nil,
                                  deleteKey: Seq[String] = Nil,
                                  strStats: Map[String, (String, String)] = Map.empty,
                                  blooms: Map[String, String] = Map.empty)

  final case class Snapshot(id: Long, partitionCol: String,
                            entries: Seq[PartitionEntry])

  /** Snapshot header only: id + segment list (entries not loaded). */
  private final case class SnapshotMeta(id: Long, partitionCol: String,
                                        segments: Seq[String])

  private def manifestDir(root: String): Path = Paths.get(root, "manifest")
  private def dataDir(root: String): Path = Paths.get(root, "data")

  /** Partition values appear in directory names escaped exactly the way
    * Spark's partitionBy escapes them (':', '%', '=', ... are
    * percent-encoded), so staged-dir resolution and read-back work for
    * arbitrary string values, not just alphanumerics. */
  private def escapePart(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)

  private def readFile(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** Files.list holds an fd until the STREAM is closed — iterating without
    * closing leaks one fd per call, which at 10^4+ buckets exhausts the
    * process limit mid-promote (observed at sf0.1). */
  private def listDir[A](p: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(p)
    try f(s.iterator().asScala) finally s.close()
  }

  private def snapName(id: Long): String = f"snapshot-$id%06d.json"

  /** Resolves the current snapshot. CURRENT is a monotonic HINT, not the
    * commit point: a snapshot exists the moment its file is atomically
    * created ([[commitSegmentCas]]), so this probes FORWARD from the hint
    * — a writer that crashed (or lost a hint race) between claiming
    * snapshot-N and rewriting CURRENT still has its fully-written commit
    * honored, and a regressed hint can never roll the table back. */
  private def currentMeta(root: String): Option[SnapshotMeta] = {
    val cur = manifestDir(root).resolve("CURRENT")
    var meta: Option[SnapshotMeta] = None
    if (Files.exists(cur)) {
      val p = manifestDir(root).resolve(readFile(cur).trim)
      if (Files.exists(p)) meta = Some(parseMeta(readFile(p)))
    }
    // No hint (or dangling hint): a first commit may have crashed before
    // writing CURRENT — start the probe at id 0.
    var nextId = meta.map(_.id + 1).getOrElse(0L)
    var probe = manifestDir(root).resolve(snapName(nextId))
    while (Files.exists(probe)) {
      meta = Some(parseMeta(readFile(probe)))
      nextId += 1
      probe = manifestDir(root).resolve(snapName(nextId))
    }
    meta
  }

  /** Segments are ordered and append-only; a later segment SUPERSEDES an
    * earlier entry for the same partition value (last-wins), which is how
    * appends and compactions update a bucket without ever rewriting a
    * committed segment file. */
  private def loadSnapshot(root: String, meta: SnapshotMeta): Snapshot = {
    val byValue = new java.util.LinkedHashMap[String, PartitionEntry]()
    meta.segments.foreach(seg =>
      parseEntries(readFile(manifestDir(root).resolve(seg)))
        .foreach(e => byValue.put(e.value, e)))
    Snapshot(meta.id, meta.partitionCol,
      byValue.values().asScala.toSeq)
  }

  def currentSnapshot(root: String): Option[Snapshot] =
    currentMeta(root).map(loadSnapshot(root, _))

  /** Loads a historical snapshot by id (for incremental reads). */
  def snapshotById(root: String, id: Long): Option[Snapshot] = {
    val p = manifestDir(root).resolve(f"snapshot-$id%06d.json")
    if (!Files.exists(p)) None
    else Some(loadSnapshot(root, parseMeta(readFile(p))))
  }

  /** Completed partition values in the latest snapshot. */
  def completedPartitions(root: String): Set[String] =
    currentSnapshot(root).map(_.entries.map(_.value).toSet).getOrElse(Set.empty)

  /** Writes `df` partitioned by `partitionCol`, skipping buckets already in
    * the manifest (resume). Returns the number of buckets computed this run.
    *
    * Scale shape: ALL remaining buckets are written in ONE Spark job
    * (`partitionBy` into a staging dir) plus one stats job — the input is
    * scanned exactly twice regardless of bucket count (the previous design
    * ran one full job per bucket: 41k sequential scans at 100 TB). Each
    * staged bucket directory is then promoted into place with an atomic
    * rename and committed to the manifest incrementally, so a crash
    * mid-promote resumes at bucket granularity with no partial data.
    *
    * `partitionCol` must be a deterministic, coarse partitioning column;
    * at production scale this is the `cell_p` H3 prefix (~41k buckets).
    */
  def writeResumable(spark: SparkSession, df: DataFrame, root: String,
                     partitionCol: String,
                     failAfter: Int = Int.MaxValue,
                     lineage: String = "",
                     sortCols: Seq[String] = Nil,
                     parquetBlockBytes: Long = -1L,
                     bloomCols: Seq[String] = Nil,
                     bloomBits: Int = IceliteBloom.DefaultBits): Int = {
    Files.createDirectories(manifestDir(root))
    Files.createDirectories(dataDir(root))
    sweepStaleStaging(root)

    val done = completedPartitions(root)
    // `__part` drives partitionBy so the original column stays in the data
    // files (partitionBy consumes its column) and read-back schemas match.
    val remaining0 = df.withColumn("__part", col(partitionCol).cast("string"))
    val remaining =
      if (done.isEmpty) remaining0
      else remaining0.filter(!col("__part").isInCollection(done))

    val (staging, stats) = stageWithStats(spark, remaining, remaining0.schema,
      root, partitionCol, df.columns.filterNot(_ == partitionCol),
      sortCols, parquetBlockBytes, bloomCols, bloomBits)

    // Promote loop: atomic rename per bucket + batched manifest commits
    // (driver-side only — no further Spark jobs). Each commit appends one
    // immutable segment file; the batch size adapts so a run makes at most
    // ~64 commits regardless of bucket count (per-bucket at test scale).
    // A crash between a promote and its commit only re-stages the
    // uncommitted buckets of the open batch on resume (idempotent
    // overwrite on promote).
    val statsMap = stats.toMap
    val computed = promoteStaged(root, partitionCol, staging,
      stats.map(_._1), failAfter, replaceTarget = true) { (v, files, ms, _) =>
      // Replace semantics: the staged bucket IS the bucket (fresh current
      // entry irrelevant).
      val st = statsMap(v)
      PartitionEntry(v, st.rows, st.checksum, files,
        durationMs = ms, lineage = lineage, colStats = st.colStats,
        strStats = st.strStats, blooms = st.blooms)
    }
    deleteRecursively(staging)
    computed
  }

  /** Shared promote loop (writes, appends, compaction): per bucket, move
    * the staged files into the live partition directory (atomic moves;
    * `replaceTarget` replaces the whole directory — the resumable-write
    * overwrite — while appends/compaction add files into it with a
    * collision check), then commit manifest entries in adaptive batches
    * (~64 commits max per run regardless of bucket count; driver-side
    * only — no further Spark jobs). A crash between a promote and its
    * commit only re-stages the uncommitted buckets of the open batch on
    * resume. `failAfter` injects that crash for the specs: pending
    * entries are deliberately NOT flushed. durationMs passed to
    * `mkEntry` is per-bucket promote time (staging is one shared job and
    * not attributable to a single bucket). */
  private def promoteStaged(root: String, partitionCol: String, staging: Path,
                            values: Seq[String], failAfter: Int,
                            replaceTarget: Boolean,
                            movedPrefix: String = "")
                           (mkEntry: (String, Seq[String], Long,
                                      Option[PartitionEntry]) => PartitionEntry): Int = {
    val batchSize = math.max(1, values.length / 64)
    val pending = mutable.ArrayBuffer.empty[(String, Seq[String], Long)]
    var computed = 0
    // Entries are derived inside the CAS attempt against the snapshot
    // CURRENT at commit time (mkEntry's Option is the fresh entry for the
    // bucket) — a concurrent appender's committed rows compose instead of
    // being clobbered by a stale read captured at promote time.
    def flush(): Unit = if (pending.nonEmpty) {
      val batch = pending.toSeq
      commitSegmentCas(root, partitionCol, cur =>
        batch.map { case (v, files, ms) => mkEntry(v, files, ms, cur.get(v)) })
      pending.clear()
    }
    for (v <- values) {
      if (computed >= failAfter)
        throw new RuntimeException(s"icelite: injected failure after $failAfter buckets")
      val tBucket = System.nanoTime()
      val staged = staging.resolve(s"__part=${escapePart(v)}")
      val target = dataDir(root).resolve(s"$partitionCol=${escapePart(v)}")
      val files =
        if (!Files.isDirectory(staged)) {
          // Zero staged rows for this value (e.g. a compaction of a
          // bucket whose rows were all deleted): the bucket's new
          // content is empty — commit an entry with no files.
          Seq.empty[String]
        } else if (replaceTarget) {
          if (Files.exists(target)) deleteRecursively(target)
          Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
          listDir(target)(_.map(_.getFileName.toString)
            .filter(_.endsWith(".parquet")).toSeq)
        } else {
          Files.createDirectories(target)
          listDir(staged)(_.filter(
              _.getFileName.toString.endsWith(".parquet")).toList).map { f =>
            val name = movedPrefix + f.getFileName.toString
            val t = target.resolve(name)
            if (Files.exists(t))
              throw new IllegalStateException(s"icelite: file collision at $t")
            Files.move(f, t, StandardCopyOption.ATOMIC_MOVE)
            name
          }
        }
      pending += ((v, files, (System.nanoTime() - tBucket) / 1000000))
      if (pending.length >= batchSize) flush()
      computed += 1
    }
    flush()
    computed
  }

  /** Shared staging machinery (writes, appends, compaction): stage every
    * bucket of `withPart` (a df carrying a string `__part` column) in ONE
    * `partitionBy` job, clustered by the partition value first — without
    * the clustering every task writes one file per bucket it sees
    * (tasks x buckets small files; at 41k buckets and 10^4 tasks that is
    * 10^8 files); clustered, file count equals bucket count. Then one
    * stats job computes per-bucket row counts + order-independent
    * xxhash64-xor content checksums, from the STAGED bytes
    * (the manifest then describes exactly what was staged, and the input
    * pipeline — possibly expensive — runs once). NULL partition values
    * are rejected (they stage as Hive's default-partition dir and would
    * break resume identity). The explicit `schema` pins `__part` as
    * STRING so partition-dir inference cannot corrupt numeric-looking
    * keys ("007" -> "7"). */
  /** Per-bucket staging statistics (one stats-job row per bucket). */
  private final case class BucketStats(rows: Long, checksum: Long,
                                       colStats: Map[String, (Long, Long)],
                                       strStats: Map[String, (String, String)],
                                       blooms: Map[String, String] = Map.empty)

  /** String bounds are stored TRUNCATED to this many UTF-16 units (urls
    * can be kilobytes; the manifest must stay O(buckets) small). */
  private val StrStatLen = 32

  /** Safe truncated UPPER bound: take the prefix and increment its last
    * non-max unit (Iceberg's truncate-and-increment); all-max prefixes
    * admit no bound (None -> stats omitted, pruning disabled — safe). */
  private def truncUpper(s: String): Option[String] =
    if (s.length <= StrStatLen) Some(s)
    else {
      val p = s.substring(0, StrStatLen).toCharArray
      var i = p.length - 1
      while (i >= 0 && p(i) == 0xFFFF.toChar) i -= 1
      if (i < 0) None
      else Some(new String(p, 0, i) + (p(i) + 1).toChar)
    }

  /** String stats are only stored for pure-ASCII bounds: there UTF-8
    * byte order (Spark's min/max), UTF-16 order (the driver-side bound
    * comparisons) and code-point order all coincide, so pruning can
    * never lose a row. Exotic strings simply disable pruning for their
    * bucket. */
  private def asciiOnly(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (s.charAt(i) >= 0x80) return false; i += 1 }
    true
  }

  private def stageWithStats(spark: SparkSession,
                             withPart: DataFrame,
                             schema: org.apache.spark.sql.types.StructType,
                             root: String, partitionCol: String,
                             dataCols: Seq[String],
                             sortCols: Seq[String] = Nil,
                             parquetBlockBytes: Long = -1L,
                             bloomCols: Seq[String] = Nil,
                             bloomBits: Int = IceliteBloom.DefaultBits)
      : (Path, Array[(String, BucketStats)]) = {
    // Fail fast — BEFORE the expensive staging write: bloom parameters
    // are validated against the input schema here, not after the
    // multi-GB partitionBy job has already run.
    require(bloomBits >= 64 && (bloomBits & 63) == 0,
      s"icelite: bloomBits must be a positive multiple of 64, got $bloomBits")
    bloomCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"icelite: bloomCols column '$c' not in the data schema"))
      require(f.dataType == org.apache.spark.sql.types.LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType ||
          f.dataType == org.apache.spark.sql.types.ShortType ||
          f.dataType == org.apache.spark.sql.types.StringType,
        s"icelite: bloomCols column '$c' has unsupported type ${f.dataType}")
    }
    val staging = Paths.get(root, s"$StagingPrefix${System.nanoTime()}")
    // Optional in-file clustering: sortWithinPartitions on `sortCols`
    // tightens parquet row-group min/max stats on those columns, so
    // later range-predicate scans (the optimizer's H3 prefix->range
    // rewrite, kNN disk reads) prune row groups inside a bucket too;
    // `parquetBlockBytes` shrinks the row-group size when the table is
    // built FOR such range scans (smaller groups = finer pruning).
    //
    // REBALANCE (not plain repartition) by the partition value: under
    // AQE a hot bucket (a Paris-cluster H3 prefix holding ~half the
    // rows) is SPLIT across several write tasks sized by
    // advisoryPartitionSizeInBytes, and tiny buckets coalesce — the
    // previous hash repartition serialized every hot bucket's sort +
    // parquet encode through ONE task (measured: the single-task tail
    // dominated the staging job). Multiple files per bucket are fine at
    // every layer here (manifest lists files per bucket; checksums are
    // order-independent; per-file sorted row groups keep range pruning).
    // Without AQE the hint degrades to the old hash partitioning.
    val clustered = withPart.hint("rebalance", col("__part"))
    val staged =
      if (sortCols.isEmpty) clustered
      else clustered.sortWithinPartitions(
        ("__part" +: sortCols).map(c => col(s"`$c`")): _*)
    val writer = staged.write.mode("overwrite").partitionBy("__part")
    (if (parquetBlockBytes > 0)
       writer.option("parquet.block.size", parquetBlockBytes.toString)
     else writer).parquet(staging.toString)
    if (Files.exists(staging.resolve("__part=__HIVE_DEFAULT_PARTITION__")))
      throw new IllegalArgumentException(
        s"icelite: partition column '$partitionCol' contains NULL values; " +
          "map nulls to an explicit sentinel first")
    val quoted = dataCols.map(c => s"`$c`")
    val statsSrc = spark.read.schema(schema).parquet(staging.toString)
    // Iceberg-style per-bucket COLUMN statistics: min/max for every
    // integral data column ride along in the same stats job, enabling
    // manifest-level range pruning (readWhereRange) on non-partition
    // columns — e.g. the raw H3 cell column, whose prefix predicates the
    // optimizer already rewrites to ranges.
    val statCols = statsSrc.schema.fields
      .filter(f => dataCols.contains(f.name) &&
        (f.dataType == org.apache.spark.sql.types.LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType))
      .map(_.name).toSeq
    // String columns get truncated min/max too (url/lang slicing is the
    // second most common curation predicate after the cell prefix); the
    // stored bounds are post-processed for safe truncation + ASCII-only
    // ordering equivalence below.
    val strCols = statsSrc.schema.fields
      .filter(f => dataCols.contains(f.name) &&
        f.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).toSeq
    // Opt-in per-bucket bloom filters for point-lookup pruning: the
    // bloom aggregate rides in the SAME stats job (map-side partial
    // bit arrays, OR-merge), so requesting blooms adds no extra scan
    // (parameters validated above, before the staging write).
    val statAggs = statCols.flatMap(c => Seq(
      min(col(s"`$c`")).cast("long").as(s"__min_$c"),
      max(col(s"`$c`")).cast("long").as(s"__max_$c"))) ++
      strCols.flatMap(c => Seq(
        // Truncate INSIDE the agg row (a multi-KB url must not transit
        // whole), but over the full-value ordering: min/max first, then
        // substring of the exact bound. One extra unit beyond StrStatLen
        // tells the driver truncation happened.
        substring(min(col(s"`$c`")), 1, StrStatLen + 1).as(s"__smin_$c"),
        substring(max(col(s"`$c`")), 1, StrStatLen + 1).as(s"__smax_$c"))) ++
      bloomCols.map(c => org.apache.spark.sql.GraftBridge.column(
        IceliteBloomAgg(org.apache.spark.sql.GraftBridge.expression(
          col(s"`$c`")), bloomBits).toAggregateExpression())
        .as(s"__bloom_$c"))
    val stats = statsSrc
      .groupBy("__part")
      .agg(count(lit(1)).as("rows"),
        (expr(s"bit_xor(xxhash64(struct(${quoted.mkString(",")})))").as("checksum")
          +: statAggs): _*)
      .collect()
      .map { r =>
        val cs = statCols.zipWithIndex.flatMap { case (c, i) =>
          val lo = 3 + i * 2
          if (r.isNullAt(lo) || r.isNullAt(lo + 1)) None
          else Some(c -> (r.getLong(lo), r.getLong(lo + 1)))
        }.toMap
        val ss = strCols.zipWithIndex.flatMap { case (c, i) =>
          val lo = 3 + statCols.length * 2 + i * 2
          if (r.isNullAt(lo) || r.isNullAt(lo + 1)) None
          else {
            val mn = r.getString(lo)
            val mx = r.getString(lo + 1)
            if (!asciiOnly(mn) || !asciiOnly(mx)) None
            else truncUpper(mx).map(up =>
              c -> (mn.substring(0, math.min(mn.length, StrStatLen)), up))
          }
        }.toMap
        val bl = bloomCols.zipWithIndex.flatMap { case (c, j) =>
          val at = 3 + statCols.length * 2 + strCols.length * 2 + j
          if (r.isNullAt(at)) None
          else {
            val bytes = r.getAs[Array[Byte]](at)
            val bb = java.nio.ByteBuffer.wrap(bytes)
            Some(c -> IceliteBloom.encode(
              Array.fill(bytes.length / 8)(bb.getLong)))
          }
        }.toMap
        r.getString(0) -> BucketStats(r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2), cs, ss, bl)
      }
      .sortBy(_._1)
    (staging, stats)
  }

  /** Appends `df`'s rows to the table as NEW data files in each touched
    * bucket — committed files are never rewritten, so historical
    * snapshots stay exact (reads are file-precise). Metrics compose:
    * per-bucket rows add and the xxhash64-xor checksum XORs, so an
    * appended entry's manifest metrics equal a from-scratch recompute of
    * the union (spec-pinned).
    *
    * `runId` is the resume identity: every entry this run commits records
    * it in `lineage`, and a restarted run skips buckets whose CURRENT
    * entry already carries it — a crash mid-append re-appends only the
    * unfinished buckets. Files promoted but not committed before a crash
    * are invisible orphans (never read) reclaimed by [[vacuum]].
    *
    * `df` must have the same schema (column order included) as the
    * table's original writes — the composed checksum hashes columns in
    * schema order. */
  def appendResumable(spark: SparkSession, df: DataFrame, root: String,
                      partitionCol: String, runId: String,
                      failAfter: Int = Int.MaxValue,
                      bloomCols: Seq[String] = Nil,
                      bloomBits: Int = IceliteBloom.DefaultBits): Int = {
    require(runId.nonEmpty,
      "appendResumable needs a unique runId (resume identity)")
    Files.createDirectories(manifestDir(root))
    Files.createDirectories(dataDir(root))
    sweepStaleStaging(root)

    val current = currentSnapshot(root)
      .map(_.entries.map(e => e.value -> e).toMap).getOrElse(Map.empty)
    val done = current.collect { case (v, e) if e.lineage == runId => v }.toSet
    val withPart0 = df.withColumn("__part", col(partitionCol).cast("string"))
    val withPart =
      if (done.isEmpty) withPart0
      else withPart0.filter(!col("__part").isInCollection(done))
    val (staging, stats) = stageWithStats(spark, withPart, withPart0.schema,
      root, partitionCol, df.columns.filterNot(_ == partitionCol),
      bloomCols = bloomCols, bloomBits = bloomBits)

    val statsMap = stats.toMap
    val computed = promoteStaged(root, partitionCol, staging,
      stats.map(_._1), failAfter, replaceTarget = false) { (v, moved, ms, old) =>
      // `old` is the FRESH current entry at commit time (not the capture
      // at run start), so two LIVE concurrent appenders to one bucket
      // compose: the CAS loser re-derives against the winner's entry.
      val st = statsMap(v)
      // Column stats compose under append: min of mins / max of maxes,
      // kept only for columns BOTH sides have stats for (an absent range
      // disables pruning — safe). String bounds compose the same way —
      // min/max of valid lower/upper bounds is a valid lower/upper bound
      // even when either side was truncated.
      val mergedStats = old match {
        case None => st.colStats
        case Some(o) => st.colStats.flatMap { case (c, (lo, hi)) =>
          o.colStats.get(c).map { case (olo, ohi) =>
            c -> (math.min(olo, lo), math.max(ohi, hi))
          }
        }
      }
      val mergedStr = old match {
        case None => st.strStats
        case Some(o) => st.strStats.flatMap { case (c, (lo, hi)) =>
          o.strStats.get(c).map { case (olo, ohi) =>
            c -> (Ordering[String].min(olo, lo), Ordering[String].max(ohi, hi))
          }
        }
      }
      // Blooms OR-compose under append, and ONLY when both sides carry
      // one of the same size — a bucket whose new rows were not
      // bloom-aggregated must DROP the column's filter (keeping the old
      // one would falsely prune the new rows).
      val mergedBlooms = old match {
        case None => st.blooms
        case Some(o) => st.blooms.flatMap { case (c, b) =>
          o.blooms.get(c).flatMap(ob => IceliteBloom.merge(ob, b))
            .map(c -> _)
        }
      }
      PartitionEntry(v,
        old.map(_.rows).getOrElse(0L) + st.rows,
        old.map(_.checksum).getOrElse(0L) ^ st.checksum,
        old.map(_.files).getOrElse(Seq.empty) ++ moved,
        durationMs = ms, lineage = runId, colStats = mergedStats,
        // An append leaves the bucket's standing deletes in force.
        deleteFiles = old.map(_.deleteFiles).getOrElse(Nil),
        deleteKey = old.map(_.deleteKey).getOrElse(Nil),
        strStats = mergedStr, blooms = mergedBlooms)
    }
    deleteRecursively(staging)
    computed
  }

  /** Row-level EQUALITY deletes (the Iceberg delete-file analogue): every
    * row of `keys` — columns: `partitionCol` plus `keyCols` — marks all
    * table rows in that bucket whose key columns match as deleted. The
    * delete rows are staged in one partitionBy job, promoted as new
    * `delete-*.parquet` files inside the affected bucket directories,
    * and committed through the same CAS path as appends; readers apply
    * them as a bucket-scoped anti-join ([[readEntriesDf]]) and
    * [[compactBuckets]] rewrites them away physically. Data files are
    * never touched, so historical snapshots ([[readAsOf]]) still see the
    * pre-delete rows, and a 100-TB takedown costs one tiny file per
    * affected bucket instead of a bucket rewrite.
    *
    * Partition-ROUTED by contract: the caller supplies the partition
    * value per key (a curation pipeline knows its cell prefix; when it
    * does not, derive it with a join against the table first). Keys for
    * buckets the table does not contain are ignored. NULL key values
    * never match any row (SQL equality). `runId` is the resume identity,
    * exactly like [[appendResumable]]. Returns the number of buckets
    * that gained delete files this run. */
  def deleteRowsResumable(spark: SparkSession, keys: DataFrame, root: String,
                          partitionCol: String, keyCols: Seq[String],
                          runId: String,
                          failAfter: Int = Int.MaxValue): Int = {
    require(runId.nonEmpty,
      "deleteRowsResumable needs a unique runId (resume identity)")
    require(keyCols.nonEmpty, "deleteRowsResumable needs at least one key column")
    val current = currentSnapshot(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
      .entries.map(e => e.value -> e).toMap
    if (current.isEmpty) return 0
    current.valuesIterator.filter(_.deleteFiles.nonEmpty).foreach { e =>
      require(e.deleteKey == keyCols,
        s"bucket '${e.value}' already holds deletes keyed by " +
          s"${e.deleteKey.mkString(",")}; one table uses one delete key " +
          s"(got ${keyCols.mkString(",")})")
    }
    sweepStaleStaging(root)
    val done = current.collect { case (v, e) if e.lineage == runId => v }.toSet
    val projected = keys.select(
      (partitionCol +: keyCols).map(c => col(s"`$c`")): _*)
    val withPart0 = projected.withColumn("__part",
      col(s"`$partitionCol`").cast("string"))
    val withPart = withPart0
      .filter(col("__part").isInCollection(current.keySet -- done))
    val (staging, stats) = stageWithStats(spark, withPart, withPart0.schema,
      root, partitionCol, keyCols)
    try {
      val computed = promoteStaged(root, partitionCol, staging,
        stats.map(_._1).filter(current.contains), failAfter,
        replaceTarget = false, movedPrefix = "delete-") { (v, moved, ms, fresh) =>
        // Derive against the FRESH entry (CAS): a concurrent append's
        // files stay; our delete files accumulate onto whatever is
        // current.
        val e = fresh.getOrElse(current(v))
        e.copy(deleteFiles = e.deleteFiles ++ moved, deleteKey = keyCols,
          durationMs = ms, lineage = runId)
      }
      computed
    } finally deleteRecursively(staging)
  }

  /** Rewrites every bucket holding more than `maxFiles` data files (the
    * append-induced small-files debt) OR any delete files in ONE
    * partitionBy job over just those buckets' files, with standing
    * equality deletes APPLIED — the physical reclamation that turns a
    * logical delete into a smaller bucket. The rewrite is verified
    * BEFORE anything is committed: a delete-free bucket's staged row
    * count and order-independent checksum must equal the manifest's; a
    * delete-bearing bucket's must equal an independently computed pass
    * over (data minus deletes). On any mismatch the whole compaction
    * aborts untouched. Old files stay on disk so historical snapshots
    * keep working; [[vacuum]] reclaims them. Returns the number of
    * buckets compacted. */
  def compactBuckets(spark: SparkSession, root: String,
                     maxFiles: Int = 1): Int = {
    val snap = currentSnapshot(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    val fat = snap.entries.filter(e =>
      e.files.length > maxFiles || e.deleteFiles.nonEmpty)
    if (fat.isEmpty) return 0
    sweepStaleStaging(root)
    val df = readEntriesDf(spark, root, snap.partitionCol, fat,
      e => entryPaths(root, snap.partitionCol, e)).get
    val withPart = df.withColumn("__part", col(snap.partitionCol).cast("string"))
    val (staging, stats) = stageWithStats(spark, withPart, withPart.schema,
      root, snap.partitionCol, df.columns.filterNot(_ == snap.partitionCol))
    // The staging copy must not outlive this call: a verification abort
    // or a move failure would otherwise leak a full copy of every fat
    // bucket per attempt (vacuum does not reclaim staging dirs).
    try {
      val statsMap = stats.map { case (v, st) => v -> (st.rows, st.checksum) }.toMap
      // Delete-bearing buckets cannot verify against the manifest (its
      // rows/checksum describe the PRE-delete data files by design); an
      // independent second pass over the live rows is the expectation.
      val withDel = fat.filter(_.deleteFiles.nonEmpty)
      val expect: Map[String, (Long, Long)] =
        fat.filter(_.deleteFiles.isEmpty).map(e => e.value -> (e.rows, e.checksum)).toMap ++
          (if (withDel.isEmpty) Map.empty
           else {
             val live = readEntriesDf(spark, root, snap.partitionCol, withDel,
               e => entryPaths(root, snap.partitionCol, e)).get
             val quoted = live.columns.filterNot(_ == snap.partitionCol)
               .map(c => s"`$c`")
             live.groupBy(col(snap.partitionCol).cast("string").as("__part"))
               .agg(count(lit(1)).as("rows"),
                 expr(s"bit_xor(xxhash64(struct(${quoted.mkString(",")})))")
                   .as("checksum"))
               .collect()
               .map(r => r.getString(0) ->
                 (r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2)))
               .toMap
           })
      fat.foreach { e =>
        val (rows, sum) = statsMap.getOrElse(e.value, (0L, 0L))
        val (expRows, expSum) = expect.getOrElse(e.value, (0L, 0L))
        if (rows != expRows || sum != expSum)
          throw new IllegalStateException(
            s"icelite: compaction rewrite of bucket '${e.value}' does not " +
              s"reproduce its content (rows $rows vs $expRows); aborting " +
              "with nothing committed")
      }
      val byValue = fat.map(e => e.value -> e).toMap
      // Batched commits mean a crash mid-compaction leaves a partially
      // compacted (still consistent) table; a retry compacts the rest.
      promoteStaged(root, snap.partitionCol, staging,
        fat.map(_.value).sorted, Int.MaxValue, replaceTarget = false) {
        (v, moved, ms, fresh) =>
          val e = byValue(v)
          // Absent = zero live rows (a fully-deleted bucket).
          val (expRows, expSum) = expect.getOrElse(v, (0L, 0L))
          // A concurrent append/delete between verification and commit
          // changed the bucket: our rewrite no longer represents it. Keep
          // the fresh entry untouched (the rewrite's files become
          // vacuum-able orphans) rather than committing a lost update.
          fresh match {
            case Some(f) if f.rows != e.rows || f.checksum != e.checksum ||
                f.deleteFiles != e.deleteFiles => f
            case _ =>
              // Post-compaction metrics describe the LIVE content; the
              // old col/str stats remain valid bounds (deletion only
              // narrows the value ranges), and the bloom stays a valid
              // SUPERSET for the same reason (extra bits only cost
              // false positives, never false pruning).
              PartitionEntry(e.value, expRows, expSum, moved,
                durationMs = ms, lineage = "compact", colStats = e.colStats,
                strStats = e.strStats, blooms = e.blooms)
          }
      }
    } finally deleteRecursively(staging)
  }

  /** Deletes every data file the CURRENT snapshot does not reference
    * (crashed-append orphans, superseded pre-compaction files) and any
    * bucket directory left empty. Destroys time travel to OLDER snapshots
    * — the expire-snapshots + remove-orphan-files analogue. Returns the
    * number of files removed. */
  def vacuum(root: String): Int = {
    val snap = currentSnapshot(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    // Vacuum is a quiesced maintenance op: sweep ALL staging leftovers
    // (the routine write/append sweep is age-gated for live writers).
    sweepStaleStaging(root, minAgeMs = 0)
    val keep: Map[String, Set[String]] = snap.entries.map(e =>
      s"${snap.partitionCol}=${escapePart(e.value)}" ->
        (e.files.toSet ++ e.deleteFiles)).toMap
    var removed = 0
    if (!Files.isDirectory(dataDir(root))) return 0
    listDir(dataDir(root))(_.toList).foreach { dir =>
      if (Files.isDirectory(dir)) {
        val keepFiles = keep.getOrElse(dir.getFileName.toString, Set.empty)
        listDir(dir)(_.toList).foreach { f =>
          if (!keepFiles(f.getFileName.toString)) {
            Files.deleteIfExists(f)
            if (f.getFileName.toString.endsWith(".parquet")) removed += 1
          }
        }
        if (keepFiles.isEmpty) Files.deleteIfExists(dir)
      }
    }
    removed
  }

  /** Explicit file paths of an entry (reads are FILE-precise: only
    * manifest-listed files are ever opened, so orphans from crashed
    * appends/compactions and superseded pre-compaction files are
    * invisible without any cleanup having run). */
  private def entryPaths(root: String, partitionCol: String,
                         e: PartitionEntry): Seq[String] =
    bucketPaths(root, partitionCol, e.value, e.files)

  private def bucketPaths(root: String, partitionCol: String, value: String,
                          files: Seq[String]): Seq[String] =
    files.map(f => dataDir(root)
      .resolve(s"$partitionCol=${escapePart(value)}").resolve(f).toString)

  /** The one read primitive: the given entries' data files, with their
    * equality deletes applied as an anti-join on (partitionCol ++
    * deleteKey) — bucket-scoped, because the partition column is present
    * in both the data rows and the delete rows. Entries without delete
    * files cost nothing extra (the common case compiles to the plain
    * scan). `dataPathsOf` lets incremental reads restrict WHICH data
    * files deliver rows while the full delete set still applies. A known
    * data `schema` skips Spark's parquet footer-inference job. */
  private def readEntriesDf(spark: SparkSession, root: String,
                            partitionCol: String,
                            entries: Seq[PartitionEntry],
                            dataPathsOf: PartitionEntry => Seq[String],
                            schema: Option[StructType] = None)
      : Option[DataFrame] = {
    val dataPaths = entries.flatMap(dataPathsOf)
    if (dataPaths.isEmpty) return None
    val reader = schema.fold(spark.read)(spark.read.schema)
    var df = reader.parquet(dataPaths: _*)
    val withDel = entries.filter(_.deleteFiles.nonEmpty)
    for ((key, es) <- withDel.groupBy(_.deleteKey).toSeq.sortBy(_._1.mkString(","))) {
      val delPaths = es.flatMap(e =>
        bucketPaths(root, partitionCol, e.value, e.deleteFiles))
      val joinCols = partitionCol +: key
      val del = spark.read.parquet(delPaths: _*)
        .select(joinCols.map(c => col(s"`$c`")): _*)
      df = df.join(del, joinCols, "left_anti")
    }
    Some(df)
  }

  /** Rows committed after snapshot `sinceId` (exclusive) — the
    * incremental-scan primitive. FILE-diff based: reads exactly the data
    * files an entry gained since the old snapshot, so an APPENDED bucket
    * contributes only its new rows (a compacted bucket re-delivers whole:
    * its files were rewritten). */
  def readIncremental(spark: SparkSession, root: String,
                      sinceId: Long): DataFrame = {
    val snap = currentSnapshot(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    val old: Map[String, Set[String]] = snapshotById(root, sinceId)
      .map(_.entries.map(e => e.value -> e.files.toSet).toMap)
      .getOrElse(Map.empty)
    // New data files deliver; the CURRENT delete set applies on top, so
    // a row appended after `sinceId` and already deleted again is not
    // re-surfaced.
    readEntriesDf(spark, root, snap.partitionCol, snap.entries, e =>
      bucketPaths(root, snap.partitionCol, e.value,
        e.files.filterNot(old.getOrElse(e.value, Set.empty))))
      .getOrElse(read(spark, root).limit(0))
  }

  /** Reads the table back (all committed partitions). */
  def read(spark: SparkSession, root: String): DataFrame =
    readWhere(spark, root, _ => true)

  /** Time travel: reads the table AS OF snapshot `id` — exactly the FILES
    * that snapshot's entries list. Sound across later writes, appends and
    * compactions, because segments are append-only and data files are
    * never overwritten in place (appends add files; compaction writes new
    * files and leaves the old ones for historical reads until
    * [[vacuum]]). */
  def readAsOf(spark: SparkSession, root: String, id: Long): DataFrame = {
    val snap = snapshotById(root, id).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $id at $root"))
    readEntriesDf(spark, root, snap.partitionCol, snap.entries,
      e => entryPaths(root, snap.partitionCol, e))
      .getOrElse(
        throw new IllegalArgumentException(s"snapshot $id has no partitions"))
  }

  /** Drops the table: data, manifests, any staging leftovers. */
  def drop(root: String): Unit = deleteRecursively(Paths.get(root))

  /** Manifest-driven partition pruning: only partitions whose value passes
    * the predicate are ever listed or opened (Iceberg-style scan planning
    * without touching the file system for pruned buckets). */
  def readWhere(spark: SparkSession, root: String,
                predicate: String => Boolean): DataFrame =
    readWhereOpt(spark, root, predicate).getOrElse(
      throw new IllegalArgumentException("no partitions match the predicate"))

  /** [[readWhere]] for automated scan planning (e.g. the kNN prepared
    * corpus): `Some(frame)` over exactly the matching buckets' files, or
    * `None` when no bucket matches — a normal outcome for a pruned scan,
    * not a user error. A caller that already holds the table's data
    * `schema` (from an earlier read) passes it to skip schema inference;
    * nothing is cached by path, so an append cannot leave a stale one. */
  def readWhereOpt(spark: SparkSession, root: String,
                   predicate: String => Boolean,
                   schema: Option[StructType] = None): Option[DataFrame] = {
    val snap = currentSnapshot(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    readEntriesDf(spark, root, snap.partitionCol,
      snap.entries.filter(e => predicate(e.value)),
      e => entryPaths(root, snap.partitionCol, e), schema)
  }

  /** Column-statistics range pruning (the Iceberg min/max scan-planning
    * analogue): opens only buckets whose manifest [min,max] for `column`
    * intersects [lo,hi]. Buckets without stats for the column are KEPT
    * (absent stats can only widen the scan, never lose rows). The rows
    * still need the exact predicate applied — this prunes IO, it does not
    * filter. Composes with the optimizer's H3 prefix->range rewrite: a
    * `h3_cell_to_parent(cell,r) = P` predicate becomes a cell range that
    * prunes manifest buckets here AND parquet row-groups below. */
  def readWhereRange(spark: SparkSession, root: String, column: String,
                     lo: Long, hi: Long): DataFrame =
    readWhereEntry(spark, root, e =>
      e.colStats.get(column).forall { case (mn, mx) => mx >= lo && mn <= hi })

  /** STRING-column statistics pruning (url/lang slicing — the second
    * most common curation predicate after the cell prefix): opens only
    * buckets whose manifest truncated [min,max] for `column` intersects
    * [lo,hi] in lexicographic order. Bounds are stored ASCII-only and
    * truncation-safe (lower bounds truncate down, upper bounds
    * truncate-and-increment), so a bucket is never pruned that could
    * hold a matching row; buckets without stats are kept, and non-ASCII
    * query bounds disable pruning entirely (ordering equivalence cannot
    * be guaranteed there). Rows still need the exact predicate applied —
    * this prunes IO only. */
  def readWhereStringRange(spark: SparkSession, root: String, column: String,
                           lo: String, hi: String): DataFrame = {
    val prune = asciiOnly(lo) && asciiOnly(hi)
    readWhereEntry(spark, root, e =>
      !prune || e.strStats.get(column).forall { case (mn, mx) =>
        mx >= lo && mn <= hi
      })
  }

  /** Equality slice over a string column via [[readWhereStringRange]]
    * (e.g. `lang = 'en'`). */
  def readWhereEquals(spark: SparkSession, root: String, column: String,
                      value: String): DataFrame =
    readWhereStringRange(spark, root, column, value, value)

  /** The bucket values a POINT lookup must open: every bucket except
    * those whose bloom (written via `bloomCols`) says definitely-absent
    * or whose integral [min,max] excludes the value. Buckets without a
    * bloom/stats for the column are kept — pruning is IO-only and never
    * affects the answer. Exposed so scan-planning (and the pruning
    * specs) can count buckets without reading them. */
  def bucketsForPointLong(root: String, column: String,
                          value: Long): Seq[String] = {
    val snap = currentSnapshot(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    snap.entries.filter(pointPredLong(column, value)).map(_.value)
  }

  private def pointPredLong(column: String, value: Long)
      : PartitionEntry => Boolean = e =>
    e.colStats.get(column).forall { case (mn, mx) =>
      value >= mn && value <= mx
    } && e.blooms.get(column).forall(
      IceliteBloom.mightContainLong(_, value))

  private def pointPredString(column: String, value: String)
      : PartitionEntry => Boolean = e =>
    (!asciiOnly(value) || e.strStats.get(column).forall { case (mn, mx) =>
      value >= mn && value <= mx
    }) && e.blooms.get(column).forall(
      IceliteBloom.mightContainString(_, value))

  /** Bloom-pruned point lookup on an integral column: opens only the
    * [[bucketsForPointLong]] buckets. Unlike range stats — useless for
    * point predicates on unsorted high-cardinality columns, where every
    * bucket's [min,max] spans the domain — the bloom prunes to the few
    * buckets that might hold the value (false-positive rate set by
    * [[IceliteBloom.DefaultBits]]). Rows still need the exact equality
    * filter applied; an all-pruned lookup returns an EMPTY frame (the
    * correct point-lookup answer), not an error. */
  def readWherePointLong(spark: SparkSession, root: String, column: String,
                         value: Long): DataFrame =
    readWherePointEntry(spark, root, pointPredLong(column, value))

  /** [[readWherePointLong]] for string columns (url/doc-key lookups):
    * bloom test plus the truncated string bounds when the probe is
    * ASCII (ordering equivalence holds there). */
  def readWherePointString(spark: SparkSession, root: String, column: String,
                           value: String): DataFrame =
    readWherePointEntry(spark, root, pointPredString(column, value))

  private def readWherePointEntry(spark: SparkSession, root: String,
      predicate: PartitionEntry => Boolean): DataFrame = {
    val snap = currentSnapshot(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    readEntriesDf(spark, root, snap.partitionCol,
      snap.entries.filter(predicate),
      e => entryPaths(root, snap.partitionCol, e))
      .orElse(
        // Nothing might contain the value: an empty frame with the
        // table's schema (planned from one bucket; the `false` filter
        // folds to an empty relation before any IO happens).
        readEntriesDf(spark, root, snap.partitionCol,
          snap.entries.take(1),
          e => entryPaths(root, snap.partitionCol, e))
          .map(_.filter(lit(false))))
      .getOrElse(throw new IllegalStateException(
        s"icelite: table at $root has no data files"))
  }

  private def readWhereEntry(spark: SparkSession, root: String,
                             predicate: PartitionEntry => Boolean): DataFrame = {
    val snap = currentSnapshot(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    readEntriesDf(spark, root, snap.partitionCol, snap.entries.filter(predicate),
      e => entryPaths(root, snap.partitionCol, e))
      .getOrElse(
        throw new IllegalArgumentException("no partitions match the predicate"))
  }

  /** Appends one immutable segment of new entries and commits a snapshot
    * listing every segment (CURRENT update is the commit point; orphans
    * from crashes between renames are overwritten on the next commit). */
  /** Optimistic-concurrency commit (Iceberg's optimistic commit + conflict
    * retry, on the filesystem primitive): the atomic CREATE of
    * `snapshot-<n>.json` — rename WITHOUT replace — is the linearization
    * point. Each attempt reads the current snapshot, derives this commit's
    * entries AGAINST IT via `mkEntries` (so concurrent appenders to the
    * same bucket compose rather than clobber), writes an immutable segment
    * under a unique name, and tries to claim the next snapshot id; a loser
    * deletes its segment, re-reads, re-derives, and retries. CURRENT is
    * then updated as a best-effort hint ([[currentMeta]] probes forward,
    * so a lost hint race or a crash here cannot lose the commit). */
  private def commitSegmentCas(root: String, partitionCol: String,
      mkEntries: Map[String, PartitionEntry] => Seq[PartitionEntry]): Unit = {
    var attempts = 0
    var committed = false
    while (!committed) {
      attempts += 1
      if (attempts > 10000) throw new IllegalStateException(
        s"icelite: gave up after $attempts contended commit attempts at $root")
      val meta = currentMeta(root)
      val id = meta.map(_.id + 1).getOrElse(0L)
      val curEntries: Map[String, PartitionEntry] = meta match {
        case None => Map.empty
        case Some(m) => loadSnapshot(root, m).entries.map(e => e.value -> e).toMap
      }
      val entries = mkEntries(curEntries)
      val segName = f"seg-$id%06d-${java.util.UUID.randomUUID().toString.take(8)}.json"
      atomicWrite(root, segName, s"""{"entries":[${renderEntries(entries)}]}""")
      val segments = meta.map(_.segments).getOrElse(Nil) :+ segName
      val snapJson = s"""{"id":$id,"partitionCol":"${esc(partitionCol)}","segments":[${
        segments.map(n => "\"" + esc(n) + "\"").mkString(",")}]}"""
      committed = atomicCreate(root, snapName(id), snapJson)
      if (committed) atomicWrite(root, "CURRENT", snapName(id))
      else Files.deleteIfExists(manifestDir(root).resolve(segName))
    }
  }

  private def atomicWrite(root: String, name: String, content: String): Unit = {
    val tmp = manifestDir(root).resolve(s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestDir(root).resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Atomic create-if-absent WITH content: hard-link a fully-written temp
    * file into place — link(2) fails with EEXIST atomically, so the target
    * appears complete or not at all, and exactly one contender wins. (A
    * rename would NOT work here: POSIX rename(2), which ATOMIC_MOVE maps
    * to, silently replaces an existing target.) The CAS primitive; on a
    * store without hard links, substitute its native conditional-put. */
  private def atomicCreate(root: String, name: String, content: String): Boolean = {
    val tmp = manifestDir(root).resolve(s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    try {
      Files.createLink(manifestDir(root).resolve(name), tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case e @ (_: UnsupportedOperationException |
                _: java.nio.file.FileSystemException)
          if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] =>
        // Filesystems without hard links (some network/object-store
        // mounts) surface here as UnsupportedOperationException or a
        // generic FileSystemException (EPERM) — fail with a diagnosis
        // instead of an uncaught low-level error mid-commit.
        throw new IllegalStateException(
          s"icelite: store at $root does not support hard links, which " +
            "back the atomic create-if-absent commit; use a store with " +
            "link(2) or substitute its native conditional-put", e)
    } finally Files.deleteIfExists(tmp)
  }

  /** Newest last-modified time anywhere in the subtree. A live staging
    * job writes files deep under the staging dir's _temporary subtree,
    * which does NOT advance the top directory's own mtime — liveness
    * must be judged on the whole subtree. */
  private def newestMtime(p: Path): Long = {
    // Entries can vanish mid-walk (a concurrent writer's task commit
    // deletes its _temporary files): a vanished entry is simply old —
    // it must not abort the sweep.
    var m = try Files.getLastModifiedTime(p).toMillis catch {
      case _: java.nio.file.NoSuchFileException => 0L
    }
    if (Files.isDirectory(p))
      try listDir(p)(_.foreach(c => m = math.max(m, newestMtime(c))))
      catch { case _: java.nio.file.NoSuchFileException => }
    m
  }

  /** Staging dirs sit beside `data/` under the table root. The prefix is
    * not hidden: Spark ignores a path whose name starts with '.', so the
    * stats re-read of a `.staging-*` dir warned "All paths were ignored" on
    * every write. The old prefix is still swept, so leftovers staged by
    * older code are reclaimed. */
  private val StagingPrefix = "staging-"
  private val OldStagingPrefix = ".staging-"

  /** Reclaims staging leftovers from CRASHED runs only: a dir is
    * swept when the newest mtime in its whole subtree is older than one
    * hour, so a LIVE concurrent writer's staging (whose task files are
    * being written continuously, however deep) is never deleted out from
    * under it. [[vacuum]] sweeps unconditionally (it is a quiesced
    * maintenance op by contract). */
  private def sweepStaleStaging(root: String,
                                minAgeMs: Long = 60L * 60 * 1000): Unit = {
    val cutoff = System.currentTimeMillis() - minAgeMs
    listDir(Paths.get(root))(_.filter { p =>
        val name = p.getFileName.toString
        (name.startsWith(StagingPrefix) || name.startsWith(OldStagingPrefix)) &&
          newestMtime(p) < cutoff
      }.toList)
      .foreach(deleteRecursively)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      listDir(p)(_.toList).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  // -- tiny JSON render/parse (schema is fixed and self-authored) --

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }

  private def renderEntries(entries: Seq[PartitionEntry]): String =
    entries.map { e =>
      val cs = e.colStats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
        "\"" + esc(c) + s"""":[$lo,$hi]"""
      }.mkString(",")
      val del =
        if (e.deleteFiles.isEmpty) ""
        else s""","deleteFiles":[${e.deleteFiles.map(f => "\"" + esc(f) + "\"").mkString(",")}],"deleteKey":[${e.deleteKey.map(k => "\"" + esc(k) + "\"").mkString(",")}]"""
      val ss =
        if (e.strStats.isEmpty) ""
        else s""","strStats":{${e.strStats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
          "\"" + esc(c) + "\":[\"" + esc(lo) + "\",\"" + esc(hi) + "\"]"
        }.mkString(",")}}"""
      val bl =
        if (e.blooms.isEmpty) ""
        else s""","blooms":{${e.blooms.toSeq.sortBy(_._1).map { case (c, b) =>
          "\"" + esc(c) + "\":\"" + esc(b) + "\""
        }.mkString(",")}}"""
      s"""{"value":"${esc(e.value)}","rows":${e.rows},"checksum":${e.checksum},"durationMs":${e.durationMs},"lineage":"${esc(e.lineage)}","colStats":{$cs},"files":[${e.files.map(f => "\"" + esc(f) + "\"").mkString(",")}]$del$ss$bl}"""
    }.mkString(",")

  private def parseEntries(json: String): Seq[PartitionEntry] = {
    val v = graft.h3.Geo.Json.parse(json).asInstanceOf[Map[String, Any]]
    v("entries").asInstanceOf[List[Any]].map { e =>
      val m = e.asInstanceOf[Map[String, Any]]
      PartitionEntry(
        m("value").toString,
        m("rows") match { case l: Long => l; case d: Double => d.toLong },
        m("checksum") match { case l: Long => l; case d: Double => d.toLong },
        m("files").asInstanceOf[List[Any]].map(_.toString),
        m.get("durationMs").map {
          case l: Long => l; case d: Double => d.toLong; case _ => 0L
        }.getOrElse(0L),
        m.get("lineage").map(_.toString).getOrElse(""),
        m.get("colStats").map(_.asInstanceOf[Map[String, Any]].map {
          case (c, v) =>
            val nums = v.asInstanceOf[List[Any]].map {
              case l: Long => l; case d: Double => d.toLong
            }
            c -> (nums(0), nums(1))
        }).getOrElse(Map.empty),
        m.get("deleteFiles").map(_.asInstanceOf[List[Any]].map(_.toString))
          .getOrElse(Nil),
        m.get("deleteKey").map(_.asInstanceOf[List[Any]].map(_.toString))
          .getOrElse(Nil),
        m.get("strStats").map(_.asInstanceOf[Map[String, Any]].map {
          case (c, v) =>
            val ss = v.asInstanceOf[List[Any]].map(_.toString)
            c -> (ss(0), ss(1))
        }).getOrElse(Map.empty),
        m.get("blooms").map(_.asInstanceOf[Map[String, Any]].map {
          case (c, v) => c -> v.toString
        }).getOrElse(Map.empty))
    }
  }

  private def parseMeta(json: String): SnapshotMeta = {
    val v = graft.h3.Geo.Json.parse(json).asInstanceOf[Map[String, Any]]
    SnapshotMeta(
      v("id") match { case l: Long => l; case d: Double => d.toLong },
      v("partitionCol").toString,
      v("segments").asInstanceOf[List[Any]].map(_.toString))
  }
}

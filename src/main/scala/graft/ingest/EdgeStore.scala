package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.LinkGraph
import graft.model.Edge

/** Durable CSR-like edge layout (SURVEY.md §1.2): normalized + raw edges
  * written bucketed by `pmod(hash(src), buckets)` as parquet partition
  * directories — metastore-free bucketing that survives across sessions —
  * sorted within files by (src, dst), mirroring the reference's per-row
  * column sort (/root/reference/petsc_util.cc:714-722) and block row
  * partitioning (petsc_util.cc:331-344).
  *
  * Layout v2 (current): ONE parquet tree `data/tbl={norm,raw}/bucket=N/`
  * holding both the normalized and the raw (pre-normalization multiplicity)
  * edges, discriminated by the `tbl` partition column. One tree means the
  * initial write AND a mergeDelta rewrite are each a single job over the
  * discriminated union instead of two per-table jobs — at the incremental-
  * maintenance cadence the per-job fixed overhead (planning + stage
  * barriers + commit protocol) was about half the merge cost. Layout v1
  * (two trees `edges/` + `raw_edges/`) remains readable and mergeable; see
  * `migrate` for the one-shot upgrade.
  *
  * Plain parquet `partitionBy` directories carry NO bucketing metadata, so a
  * bare re-read would re-shuffle the edge side of every rank-vector join.
  * `read` therefore repartitions by `src` ONCE and persists: the cached
  * InMemoryRelation advertises HashPartitioning(src), so every subsequent
  * rank-join exchange lands on the vector side only (asserted by
  * EdgeStoreSpec). The directory bucketing still pays for itself on the
  * scan: bucket pruning applies to bucket-key filters, and the read's
  * repartition moves already-clustered rows.
  */
object EdgeStore {

  def bucketCol(buckets: Int) = pmod(xxhash64(col("src")), lit(buckets)).cast("int")

  def write(g: LinkGraph, path: String, buckets: Int = 64): Unit = {
    // one discriminated union, one write job for both tables
    val unioned = g.edges.toDF().withColumn("tbl", lit("norm"))
      .unionByName(g.rawEdges.toDF().withColumn("tbl", lit("raw")))
    writeData(unioned, path, buckets)
    g.vertices.write.mode("overwrite").parquet(s"$path/vertices")
    g.dict.write.mode("overwrite").parquet(s"$path/dict")
    writeMeta(g.edges.sparkSession, path, buckets)
  }

  /** Write/overwrite the combined tree from a frame carrying
    * (src, dst, weight, tbl); dynamic mode rewrites only present partitions.
    */
  private def writeData(df: DataFrame, path: String, buckets: Int,
      dynamic: Boolean = false): Unit = {
    val w = df
      .withColumn("bucket", bucketCol(buckets))
      .repartition(col("tbl"), col("bucket"))
      .sortWithinPartitions(col("tbl"), col("bucket"), col("src"), col("dst"))
      .write.mode("overwrite")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy("tbl", "bucket")
      .parquet(s"$path/data")
  }

  private def writeMeta(spark: SparkSession, path: String, buckets: Int): Unit = {
    import spark.implicits._
    Seq((buckets, 2)).toDF("buckets", "layout").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
    // fast-path sidecar: every merge (and every read) needs (buckets,
    // layout), and scanning the 1-row meta parquet costs a Spark job each
    // time; the text twin is read driver-side in microseconds. The parquet
    // tree stays authoritative for stores written by older code (readMeta
    // falls back when the sidecar is absent).
    val (fs, _) = hfs(spark, path)
    writeSmallFile(fs, s"$path/_meta.txt", s"buckets=$buckets\nlayout=2\n")
  }

  private def hfs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Bucket count the store was written with. Defaults to 64 ONLY when the
    * meta dir is genuinely absent (a pre-meta store); any other failure
    * (corrupt meta, transient read error) propagates — merging with a
    * guessed bucket count would prune with the wrong bucket mapping and
    * silently drop touched sources' existing edges.
    */
  def readBuckets(spark: SparkSession, path: String): Int =
    readMeta(spark, path)._1

  /** Store layout version: 2 = combined `data/tbl=…/bucket=…` tree,
    * 1 = legacy separate `edges/` + `raw_edges/` trees (pre-meta or
    * pre-layout-column stores are v1 by construction).
    */
  def readLayout(spark: SparkSession, path: String): Int =
    readMeta(spark, path)._2

  /** (buckets, layout) in ONE meta read — readBuckets + readLayout back to
    * back cost two separate scan jobs per merge for one 1-row file. Prefers
    * the `_meta.txt` sidecar (driver-side read, no Spark job); falls back to
    * the meta parquet for stores written before the sidecar existed.
    */
  private def readMeta(spark: SparkSession, path: String): (Int, Int) =
    readSmallFile(spark, s"$path/_meta.txt") match {
      case Some(body) =>
        val kv = body.linesIterator.flatMap(_.split("=", 2) match {
          case Array(k, v) => Some(k.trim -> v.trim)
          case _ => None
        }).toMap
        def field(k: String): Int = kv.get(k).flatMap(_.toIntOption).getOrElse(
          malformed(s"$path/_meta.txt", body, s"no integer $k="))
        (field("buckets"), field("layout"))
      case None =>
        val (fs, p) = hfs(spark, s"$path/meta")
        if (!fs.exists(p)) (64, 1)
        else {
          val meta = spark.read.parquet(p.toString)
          val hasLayout = meta.columns.contains("layout")
          val row = meta.select(
            col("buckets") +: (if (hasLayout) Seq(col("layout")) else Nil): _*).head()
          (row.getInt(0), if (hasLayout) row.getInt(1) else 1)
        }
    }

  /** Total bytes under the store's data tree(s) — driver-side FS metadata
    * only, no Spark job. Sizes the merge's shuffle width (guide: make
    * partitioning scale-adaptive, not a constant tuned for the session).
    */
  private def dataBytes(spark: SparkSession, path: String, layout: Int): Long = {
    val subs = if (layout >= 2) Seq("data") else Seq("edges", "raw_edges")
    subs.map { sub =>
      val (fs, p) = hfs(spark, s"$path/$sub")
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
  }

  /** Scan one logical table ("norm" | "raw") under either layout, as
    * (src, dst, weight, bucket) — bucket kept for partition pruning.
    */
  private def scanTbl(spark: SparkSession, path: String, tbl: String,
      layout: Int): DataFrame =
    if (layout >= 2)
      spark.read.parquet(s"$path/data").where(col("tbl") === tbl)
        .select(col("src"), col("dst"), col("weight"), col("bucket"))
    else {
      val sub = if (tbl == "norm") "edges" else "raw_edges"
      spark.read.parquet(s"$path/$sub")
        .select(col("src"), col("dst"), col("weight"), col("bucket"))
    }

  /** Layout-independent scans of the two logical tables (src, dst, weight) —
    * callers must not hardcode the physical tree shape.
    */
  def scanNorm(spark: SparkSession, path: String): DataFrame =
    scanTbl(spark, path, "norm", readLayout(spark, path))
      .select(col("src"), col("dst"), col("weight"))
  def scanRaw(spark: SparkSession, path: String): DataFrame =
    scanTbl(spark, path, "raw", readLayout(spark, path))
      .select(col("src"), col("dst"), col("weight"))

  /** One-shot upgrade of a legacy v1 store to the combined v2 tree (the
    * incremental path keeps working on v1 without this; migrating buys the
    * single-job merge rewrite). Not atomic against concurrent merges — the
    * in-progress marker excludes them.
    */
  def migrate(spark: SparkSession, path: String): Unit = {
    requireConsistent(spark, path)
    // marker taken BEFORE the layout read, mirroring mergeDelta: the
    // exclusive create is the actual mutual exclusion between a migrate and
    // a concurrent merge — checking the layout first would leave a window
    // where a merge starts against the tree this migrate is about to delete
    val (mfs, mpath) = hfs(spark, markerPath(path))
    createMarker(mfs, mpath)
    var wrote = false
    try {
      if (readLayout(spark, path) >= 2) { mfs.delete(mpath, false); return }
      val buckets = readBuckets(spark, path)
      val unioned =
        scanTbl(spark, path, "norm", 1).drop("bucket").withColumn("tbl", lit("norm"))
          .unionByName(
            scanTbl(spark, path, "raw", 1).drop("bucket").withColumn("tbl", lit("raw")))
      wrote = true
      markerWriting(mfs, mpath)
      writeData(unioned, path, buckets)
      writeMeta(spark, path, buckets)
      for (sub <- Seq("edges", "raw_edges")) {
        val (fs, p) = hfs(spark, s"$path/$sub")
        if (fs.exists(p)) fs.delete(p, true)
      }
      mfs.delete(mpath, false)
    } catch { case t: Throwable =>
      if (!wrote) mfs.delete(mpath, false)
      throw t
    }
  }

  // ---- merge commit protocol ----
  // A merge rewrites raw_edges and edges in two separate commits; a crash
  // between them would leave the store internally inconsistent with no
  // trace. `_merge_inprogress` is created (exclusively — concurrent merges
  // collide here) before the first rewrite and removed after the last, so
  // read()/mergeDelta can refuse a store whose last merge died mid-commit.
  // `_last_merge_tag` records the caller-supplied tag (e.g. a streaming
  // batchId) atomically with merge completion, giving at-least-once sinks an
  // idempotency cursor.

  private def markerPath(path: String) = s"$path/_merge_inprogress"

  /** Marker body records the PHASE of the interrupted operation, so an
    * operator facing a stale marker knows whether the store content can be
    * trusted: "locked" = the merge/migrate crashed (or was killed) before
    * its first write — the store is intact and deleting the marker file is
    * safe; "writing" = it crashed mid-rewrite — rebuild or restore. Markers
    * from pre-phase versions are empty → reported as unknown.
    */
  private def createMarker(fs: org.apache.hadoop.fs.FileSystem,
      m: org.apache.hadoop.fs.Path): Unit = {
    val out = fs.create(m, false) // exclusive: concurrent mutators collide here
    try out.write("locked".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def markerWriting(fs: org.apache.hadoop.fs.FileSystem,
      m: org.apache.hadoop.fs.Path): Unit = {
    val out = fs.create(m, true)
    try out.write("writing".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def requireConsistent(spark: SparkSession, path: String): Unit = {
    val (fs, m) = hfs(spark, markerPath(path))
    if (fs.exists(m)) {
      val phase = {
        val in = fs.open(m)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      }
      val advice = phase match {
        case "locked" =>
          "it died BEFORE its first write, so the store content is intact — " +
            "verify no merge process is still alive, then delete the marker " +
            "file to recover"
        case "writing" =>
          "it died mid-rewrite — rebuild the store or restore from a snapshot"
        case _ =>
          "its phase is unrecorded (pre-phase marker): it may have died " +
            "before writing anything (store intact — delete the marker after " +
            "verifying the data) or mid-rewrite (rebuild or restore)"
      }
      throw new IllegalArgumentException(
        s"requirement failed: edge store $path has an unfinished " +
          s"merge/migrate (${m.getName} present, phase=" +
          s"${if (phase.isEmpty) "unknown" else phase}): $advice")
    }
  }

  /** Tag recorded by the last completed merge (None for never-merged or
    * pre-tag stores).
    */
  def lastMergeTag(spark: SparkSession, path: String): Option[Long] =
    readSmallFile(spark, s"$path/_last_merge_tag").map(body =>
      body.trim.toLongOption.getOrElse(
        malformed(s"$path/_last_merge_tag", body, "tag is not an integer")))

  /** Run identity recorded alongside the last merge tag (None for stores
    * merged without one). The tag (a streaming batchId) is only a valid
    * idempotency cursor WITHIN one streaming run: a fresh query checkpoint
    * restarts batchIds at 0, so a cursor compared across runs silently
    * skips genuinely new batches — callers scope the cursor by recording
    * the run identity with it (IncrementalRank.maintain).
    */
  def lastMergeRun(spark: SparkSession, path: String): Option[String] =
    readSmallFile(spark, s"$path/_last_merge_run").map(_.trim)

  private def readSmallFile(spark: SparkSession, path: String): Option[String] = {
    val (fs, p) = hfs(spark, path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** A store metadata file that exists but cannot be parsed: fail naming
    * the file and what it holds, never with a bare parse error.
    */
  private def malformed(file: String, body: String, what: String): Nothing =
    throw new IllegalArgumentException(
      s"malformed store metadata $file: $what (content: \"${body.take(200)}\")")

  private def writeSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      path: String, body: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = fs.create(p, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  final case class MergeStats(
      touchedSrcs: Long, affectedBuckets: Int, totalBuckets: Int,
      newVertices: Long)

  /** Incrementally fold a delta of RAW edges (src, dst, weight=multiplicity
    * to ADD; negative multiplicity deletes) into a durable store, touching
    * only the data that can change:
    *
    *  - bucket pruning: only the bucket directories whose hash range
    *    contains a delta src are read or rewritten (dynamic partition
    *    overwrite) — at web scale a small delta touches a handful of the
    *    store's buckets and the other ~99% of bytes are never opened;
    *  - src-level renormalization: within an affected bucket, rows of
    *    untouched sources pass through verbatim (anti-join on the delta src
    *    set — broadcast while small, shuffle above ~5M touched srcs);
    *    only touched src groups re-aggregate and re-divide
    *    by their new out-sum — normalization is per-source, so this is
    *    exactly the minimal recompute set.
    *
    * This is the batch-incremental analogue of the reference's script mode
    * (normalize once, reuse across queries — ppagerank_main.cc:408-467)
    * extended with maintenance the reference lacks: the stored matrix stays
    * row-stochastic under edge arrivals without a full rebuild.
    */
  def mergeDelta(spark: SparkSession, path: String, deltaRaw: DataFrame,
      deltaDict: Option[DataFrame] = None, tag: Option[Long] = None,
      runId: Option[String] = None): MergeStats = {
    import org.apache.spark.sql.{GraftSqlInternals => GI}
    import spark.implicits._
    requireConsistent(spark, path)
    // in-progress marker, taken BEFORE the layout read and the store scans:
    // exclusive create — a concurrent merge or migrate fails here instead of
    // interleaving (a migrate completing between a layout read and the
    // rewrite would make this merge recreate the deleted v1 trees and the
    // delta would be invisible to every v2 reader). Failures before the
    // first write release the marker (the store is untouched); from the
    // first write on, a crash leaves it so read()/mergeDelta refuse the
    // possibly-inconsistent store.
    val (mfs, mpath) = hfs(spark, markerPath(path))
    createMarker(mfs, mpath)
    var wroteAnything = false
    def noteFirstWrite(): Unit =
      if (!wroteAnything) { wroteAnything = true; markerWriting(mfs, mpath) }
    try {
    val (buckets, layout) = readMeta(spark, path)
    // Shuffle width sized to the store's own bytes (~8 MB parquet per
    // partition), never above the session width: an incremental merge over a
    // small (or small-remaining-after-bucket-pruning) store otherwise pays a
    // full session-width task wave for each of its ~8 micro-stages — measured
    // 2.1 s → ~1.2 s on the bench store. A 100 TB store keeps the session
    // width (the cap only ever narrows).
    val mergeWidth = math.max(2L, math.min(
      spark.conf.get("spark.sql.shuffle.partitions", "200").toLong,
      dataBytes(spark, path, layout) / (8L << 20) + 1)).toInt
    graft.util.ShuffleWidth.withWidth(spark, mergeWidth) {
    // bucket-membership bitmask: rides as a `bit_or` observe accumulator on
    // the jobs that materialize data anyway (no dedicated distinct+collect
    // job); stores with > 64 buckets fall back to an explicit collect
    val maskable = buckets <= 64
    def bucketMask(b: org.apache.spark.sql.Column) =
      bit_or(call_function("shiftleft", lit(1L), b))
    def maskToBuckets(m: Long): Seq[Int] =
      (0 until buckets).filter(b => ((m >>> b) & 1L) == 1L)
    val delta = deltaRaw
      .select(col("src").cast("long"), col("dst").cast("long"),
        col("weight").cast("double"))
      .groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("weight"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ---- job 1: touched srcs (cached for the joins) + their count and
    // bucket set as observe side-metrics of the same materialization ----
    val affSrcsPre = delta.select(col("src")).distinct()
    val (affT, affObs) = GI.truncateObserved(
      if (maskable)
        affSrcsPre.observe("aff", count(lit(1)).as("n"),
          bucketMask(pmod(xxhash64(col("src")), lit(buckets)).cast("int")).as("mask"))
      else affSrcsPre.observe("aff", count(lit(1)).as("n")))
    val nTouched = affObs("aff").getLong(0)
    val affBuckets: Seq[Int] =
      if (maskable) {
        if (nTouched == 0) Seq.empty
        else maskToBuckets(affObs("aff").getLong(1))
      } else affT.df
        .select(pmod(xxhash64(col("src")), lit(buckets)).cast("int").as("bucket"))
        .distinct().as[Int].collect().toSeq
    // broadcast the touched-src set only while it is actually small; a bulk
    // delta (e.g. a backfill touching 10^8 sources) must shuffle-join or the
    // broadcast would OOM the driver
    val affSrcs = if (nTouched <= 5000000L) broadcast(affT.df) else affT.df

    // ---- vertex-domain growth (read-only observe job), submitted BEFORE
    // the merge materialization so it overlaps it (guide §2.6: independent
    // jobs back-fill each other's tails; it reads only the cached delta and
    // the vertices tree, disjoint from everything the merge reads/writes).
    // Its result is awaited after the data rewrite; the append write below
    // stays sequenced after noteFirstWrite like every other mutation. ----
    val vertsScan = spark.read.parquet(s"$path/vertices")
    val vertPool = java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => { // daemon: a merge failing before the await must
        val t = new Thread(r) // not leave a non-daemon thread pinning the JVM
        t.setDaemon(true)
        t.setName("edgestore-vertex-growth")
        t
      })
    val newFut = vertPool.submit(
      new java.util.concurrent.Callable[(GI.Truncated, Map[String, org.apache.spark.sql.Row])] {
        def call() = GI.truncateObserved(
          delta.select(col("src").as("id"))
            .union(delta.select(col("dst").as("id"))).distinct()
            .join(vertsScan, Seq("id"), "left_anti")
            .observe("nv", count(lit(1)).as("n")))
      })

    // ---- job 2: ONE materialization of everything the rewrites need.
    // Eager checkpoint before the first overwrite is load-bearing: every
    // frame below reads the store's parquet files, and a lazy recompute
    // after the rewrite would re-read already-rewritten files (double-
    // applying the delta or resolving stale listings). Raw and normalized
    // rows travel in one discriminated union so one job materializes both;
    // the written-raw bucket set (for emptied-bucket cleanup) rides as an
    // observe mask on the same tasks. ----
    val rawAff = scanTbl(spark, path, "raw", layout)
      .where(col("bucket").isin(affBuckets: _*)) // partition pruning
      .select(col("src"), col("dst"), col("weight"))
    val keepRaw = rawAff.join(affSrcs, Seq("src"), "left_anti")
    val touchedRaw = rawAff.join(affSrcs, Seq("src"), "left_semi")
      .unionByName(delta)
      .groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("weight"))
      .where(col("weight") > 0) // net-negative multiplicity = edge removed
    // normalized rows of touched srcs: per-src window re-divide (one pass,
    // no groupBy+rejoin; multiplicities are exact-integer doubles so the
    // summation-order change is value-identical)
    val touchedNorm = touchedRaw
      .withColumn("weight", col("weight") /
        sum(col("weight")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
    val keepNorm = scanTbl(spark, path, "norm", layout)
      .where(col("bucket").isin(affBuckets: _*))
      .select(col("src"), col("dst"), col("weight"))
      .join(affSrcs, Seq("src"), "left_anti")
    val unioned0 = keepRaw.unionByName(touchedRaw).withColumn("tbl", lit("raw"))
      .unionByName(
        keepNorm.unionByName(touchedNorm).withColumn("tbl", lit("norm")))
    val (mergedT, mergedObs) = GI.truncateObserved(
      if (maskable)
        unioned0.observe("present",
          bucketMask(when(col("tbl") === "raw",
            pmod(xxhash64(col("src")), lit(buckets)).cast("int"))).as("mask"))
      else unioned0.observe("present", count(lit(1)).as("n")))
    val merged = mergedT.df

    // Rewrite only the affected bucket dirs (dynamic partition overwrite);
    // the checkpoint above bounds the rewrite to affected-bucket bytes. The
    // marker (taken at entry) stays on disk through the rewrites, the
    // emptied-bucket cleanup, and the vertex append, and is removed only
    // once all are durable.
    noteFirstWrite()
    if (layout >= 2) {
      // combined tree: BOTH tables land in ONE rewrite job — the merged
      // union already carries the tbl discriminator
      writeData(merged, path, buckets, dynamic = true)
    } else {
      def rewrite(df: DataFrame, sub: String): Unit =
        df.withColumn("bucket", bucketCol(buckets))
          .repartition(col("bucket"))
          .sortWithinPartitions(col("src"), col("dst"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket")
          .parquet(s"$path/$sub")
      rewrite(merged.where(col("tbl") === "raw").drop("tbl"), "raw_edges")
      rewrite(merged.where(col("tbl") === "norm").drop("tbl"), "edges")
    }

    // dynamic overwrite replaces only partitions PRESENT in the written
    // frame — an affected bucket whose rows were all deleted must be
    // cleared explicitly or its stale files would survive
    val presentBuckets: Set[Int] =
      if (maskable) Option(mergedObs("present").get(0))
        .map(m => maskToBuckets(m.asInstanceOf[Long]).toSet).getOrElse(Set.empty)
      else merged.where(col("tbl") === "raw")
        .select(pmod(xxhash64(col("src")), lit(buckets)).cast("int").as("b"))
        .distinct().as[Int].collect().toSet
    val emptied = affBuckets.filterNot(presentBuckets)
    if (emptied.nonEmpty) {
      val conf = spark.sparkContext.hadoopConfiguration
      val dirs =
        if (layout >= 2)
          for (t <- Seq("raw", "norm"); b <- emptied)
            yield s"$path/data/tbl=$t/bucket=$b"
        else
          for (sub <- Seq("raw_edges", "edges"); b <- emptied)
            yield s"$path/$sub/bucket=$b"
      for (d <- dirs) {
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.delete(p, true)
      }
    }

    // ---- vertex-domain growth: await the overlapped observe job ----
    val (newT, newObs) =
      try newFut.get()
      finally vertPool.shutdown()
    val newVerts = newT.df
    val nNew = newObs("nv").getLong(0)
    if (nNew > 0) {
      newVerts.write.mode("append").parquet(s"$path/vertices")
      deltaDict.foreach { dd =>
        dd.join(newVerts, Seq("id"), "left_semi")
          .select(col("conv_id"), col("id"))
          .write.mode("append").parquet(s"$path/dict")
      }
    }
    tag.foreach(t => writeSmallFile(mfs, s"$path/_last_merge_tag", t.toString))
    runId match {
      case Some(r) => writeSmallFile(mfs, s"$path/_last_merge_run", r)
      case None =>
        // an unscoped merge invalidates any previous run's claim on the
        // cursor: leaving a stale _last_merge_run would let that run resume
        // later and validate (storedRun == runId) against a _last_merge_tag
        // it did not write, silently skipping its early batches — exactly
        // the failure the run scoping exists to prevent
        val rp = new org.apache.hadoop.fs.Path(s"$path/_last_merge_run")
        if (mfs.exists(rp)) mfs.delete(rp, false)
    }
    mfs.delete(mpath, false)
    affT.handle.unpersist(false); mergedT.handle.unpersist(false)
    newT.handle.unpersist(false); delta.unpersist()
    MergeStats(nTouched, affBuckets.size, buckets, nNew)
    } // withWidth
    } catch { case t: Throwable =>
      // nothing was written yet → the store is untouched; release the
      // marker so the failure is not misreported as a crashed half-commit
      if (!wroteAnything) mfs.delete(mpath, false)
      throw t
    }
  }

  def read(spark: SparkSession, path: String): LinkGraph = {
    import spark.implicits._
    requireConsistent(spark, path)
    val layout = readLayout(spark, path)
    // edges and vertices are repartitioned at the SAME (session) width so the
    // solvers' iterate joins stay co-partitioned; the solvers then cap their
    // iteration width to edges.rdd.getNumPartitions — which equals this
    // width by construction. (Repartitioning by an explicit data-derived
    // count would also work, but both sides must agree or every iteration
    // re-exchanges one side.)
    val edges = scanTbl(spark, path, "norm", layout)
      .select(col("src"), col("dst"), col("weight")).as[Edge]
      .repartition(col("src")) // restore co-partitioning for rank joins
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rawEdges = scanTbl(spark, path, "raw", layout)
      .select(col("src"), col("dst"), col("weight")).as[Edge]
    val vertices = spark.read.parquet(s"$path/vertices")
      .repartition(col("id")) // co-partition with the edge layout (see
      .persist()              // GraphOps.normalizeFrom)
    val dict = spark.read.parquet(s"$path/dict")
    LinkGraph(edges, rawEdges, vertices, dict, vertices.count(), edges.count())
  }
}

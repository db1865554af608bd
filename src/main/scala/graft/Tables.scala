package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loading for the driver testdata layout (TESTDATA.md):
  * `<dir>/<name>.parquet`, one file per table. All queries resolve their
  * inputs through here so scans stay uniform (predicate pushdown + column
  * pruning verified once, in [[graft.PlanChecks]]).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
      // generations; Spark 4 refuses to read that as a timestamp, so opt
      // into reading it as epoch-nanos long (exact). Harmless when the
      // file is micros.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = read(spark, dir, name)
      // Downstream queries do integer arithmetic on ts (bucketing, range
      // joins, session gaps) and assume epoch NANOS as LongType. Testdata
      // generations vary the physical type (TIMESTAMP(NANOS) vs
      // timestamp[us]); normalize whatever we get to the long-nanos
      // contract here, once, so 9+ queries don't each re-adapt.
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      df.schema("ts").dataType match {
        case LongType => df // nanos-as-long path: already epoch nanos
        case TimestampType =>
          // instant-based: unix_micros is timezone-independent here
          df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
        case TimestampNTZType =>
          // NTZ carries wall-clock fields only; interpret them as UTC.
          // timestampdiff between two NTZ values is pure local-datetime
          // arithmetic — one subtraction per row, deterministic
          // regardless of spark.sql.session.timeZone (a cast to
          // TimestampType is not; verified hash-identical under a
          // hostile session zone).
          df.withColumn("ts",
            expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
              * lit(1000L))
        case other =>
          throw new IllegalStateException(
            s"events.ts: unsupported parquet logical type $other")
      }
    } else read(spark, dir, name)
  }

  /** `<dir>/<name>.parquet` read with a supplied schema. Inferring one
    * runs a Spark job that reads parquet footers (~100 ms a load, against
    * ~15 ms with the schema given), so the inferred schema is memoized on
    * the file listing ([[memoOnListing]]) and on the session's
    * parquet-reading confs (`nanosAsLong`, `binaryAsString`,
    * `int96AsTimestamp`, `mergeSchema`, …), which change what inference
    * returns: a rewritten table or a changed conf infers again.
    */
  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val confs = spark.conf.getAll.toSeq
      .filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }.sorted.mkString(",")
    val schema = memoOnListing(spark, dir, name, s"schema|$confs")(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  private val listingMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(String, Long, Long)], Any)]

  /** A corpus fact (a twin gate's verdict, a table's schema) memoized per
    * (table, `tag`) and keyed on the table's file listing — every file's
    * path, size and mtime under `<dir>/<name>.parquet`. Repeated calls
    * over an unchanged table (the bench's passes, an embedder's loop)
    * pay one listing instead of the probe's scan; a table rewritten in
    * place lists differently, so its fact is probed again instead of
    * going stale. A tag names one fact, so always of one type `T`.
    */
  private[graft] def memoOnListing[T](spark: SparkSession, dir: String, name: String,
      tag: String)(probe: => T): T = {
    val now = listing(spark, dir, name)
    // The probe runs outside the map's lock: a gate's probe loads its
    // table, which memoizes the schema in this same map. Racing callers
    // may both probe; the fact is a pure function of the listing.
    val key = s"$dir/$name#$tag"
    val old = listingMemo.get(key)
    if (old != null && old._1 == now) old._2.asInstanceOf[T]
    else {
      val fact = probe
      listingMemo.put(key, (now, fact))
      fact
    }
  }

  /** The file listing of `<dir>/<name>.parquet`: every file's path, size
    * and mtime, sorted; empty when the table does not exist. Two equal
    * listings are the same table contents for every memo keyed on it.
    */
  private[graft] def listing(spark: SparkSession, dir: String,
      name: String): Seq[(String, Long, Long)] = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) Nil else {
      val it = fs.listFiles(path, true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      b.result().sorted
    }
  }

  /** Spread a scan across the cluster when the file layout
    * under-parallelizes it: parquet splits can't be finer than row
    * groups, so a single-row-group file (these fixtures; any
    * small-file corpus) scans as ONE task and every narrow transform
    * above it — md5 shingling, tokenizing — runs single-threaded no
    * matter how many cores exist. The round-robin repartition costs one
    * tiny shuffle of the raw rows and buys back full parallelism for
    * the compute-heavy stage above. No-op when the scan already has
    * enough splits — at real scale (thousands of row groups) adding a
    * reshuffle of the whole input would be pure loss, so callers get
    * the guard for free. Only safe below order-insensitive aggregation
    * (min/max/count): round-robin changes partial-agg grouping, which
    * a float partial sum would expose (never use it there).
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // The split count comes from FileIndex METADATA (file sizes +
    // the scan-packing arithmetic), not from df.rdd — the RDD probe
    // built the whole physical plan twice per call. Frames with no file
    // relation (in-memory test frames) pass through unchanged: the
    // row-group floor this works around is a property of file scans.
    if (plannedScanSplits(df).exists(_ * 2 <= target)) df.repartition(target)
    else df
  }

  /** Shuffle partitions for a frame that a later operator expands to
    * `rows` rows: about 200k rows a partition (the t12 density), at most
    * 16384, never fewer than the session's shuffle partitions. AQE's
    * byte-based coalesce sizes by the small pre-expansion frame and would
    * put the whole expansion on a few tasks, so callers repartition to
    * this explicitly (SCALE.md r7).
    */
  def expansionParts(spark: SparkSession, rows: Long): Int =
    math.max(spark.sessionState.conf.numShufflePartitions,
      math.min(16384L, rows / 200000L).toInt)

  /** Planned scan-split count for `df`'s underlying file relation,
    * computed from FileIndex metadata with the same arithmetic
    * FileSourceScanExec applies (maxSplitBytes = min(maxPartitionBytes,
    * max(openCost, totalBytes/minPartitionNum)); files split by it,
    * then bin-packed size-descending with openCost padding). A
    * metadata-only estimate — actual splits can't be finer than parquet
    * row groups, so this may OVERCOUNT splits on few-row-group files;
    * for spread's purpose that direction only skips an optional
    * repartition, never corrupts anything. None when the plan has no
    * file relation.
    */
  private def plannedScanSplits(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    // analyzed, not logical: since Spark 4 the reader is lazy and the
    // raw plan is an UnresolvedDataSource — the LogicalRelation only
    // exists after analysis (which is still plan-level only; no
    // physical planning, no RDD).
    val rels = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r }
    if (rels.isEmpty) None
    else Some(rels.map { rel =>
      val files = rel.location.listFiles(Nil, Nil).flatMap(_.files)
      val openCost = conf.filesOpenCostInBytes
      val minParts = conf.filesMinPartitionNum
        .getOrElse(spark.sparkContext.defaultParallelism)
      val totalBytes = files.map(_.getLen + openCost).sum
      val maxSplit = math.min(conf.filesMaxPartitionBytes,
        math.max(openCost, totalBytes / math.max(1, minParts)))
      // Exactly FilePartition.getFilePartitions' loop: the close check
      // uses the incoming split's RAW length (openCost is added to the
      // accumulator only after packing) — padding the check too would
      // overcount partitions and wrongly self-disable on many-tiny-file
      // layouts (review-caught).
      val splitSizes = files.flatMap { f =>
        (0L until f.getLen by math.max(1L, maxSplit))
          .map(off => math.min(maxSplit, f.getLen - off))
      }.sortBy(-_)
      var n = 0L
      var cur = 0L
      for (s <- splitSizes) {
        if (n == 0 || cur + s > maxSplit) { n += 1; cur = s + openCost }
        else cur += s + openCost
      }
      n
    }.max)
  }

  // Bucketed (write-time pre-shuffled) tables live in
  // [[graft.sources.Bucketed]] — BucketedSpec pins the exchange-free
  // fact-fact join and the bucket-count-mismatch fallback.

  /** Hive-style partitioned layout (`path/col=value/…`) — the read-side
    * counterpart to bucketing: a filter on the partition column prunes
    * whole directories at PLANNING time (`PartitionFilters` on the scan,
    * zero I/O for excluded partitions), which is how a 100 TB table
    * answers a one-day query by reading one day. Partition by low-
    * cardinality, always-filtered columns (date, region); high-
    * cardinality keys belong in buckets — a million tiny directories is
    * its own scaling failure (PartitioningSpec pins both the pruned plan
    * and the file-level behavior).
    */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write
      .partitionBy(cols: _*)
      .mode("overwrite")
      .parquet(path)
}

package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * The reference (airflow.py:526-533) builds a bare local SparkSession per
  * DAG run; here the session is tuned for the target deployment (many
  * executors, 100 TB inputs) while remaining correct on `local[*]`:
  *
  *  - AQE on, with partition coalescing and skew-join splitting, so the
  *    shuffle partition count self-corrects at runtime instead of being
  *    hand-tuned per scale factor.
  *  - `shuffle.partitions` defaults to the local thread count ([[cpus]]);
  *    on a cluster this is overridden to ~2-3x total cores and AQE
  *    coalesces the excess.
  *  - Broadcast threshold raised to 64 MB: genuinely small sides (the
  *    fixed-size dims; sf-proportional tables only while they fit)
  *    broadcast so fact-dim joins don't shuffle the fact side. Tables
  *    that grow with scale cross the threshold and fall back to shuffle
  *    on their own — no forced hints anywhere (a forced broadcast of a
  *    growing table is an OOM at 100 TB, not a plan choice).
  */
object GraftSession {

  /** Local task threads (and the default shuffle width):
    * `$SPARK_GRAFT_CPUS`, else the host's processor count. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(appName: String = "graft", master: Option[String] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // ObjectHashAggregate (collect_set/collect_list — every dedup
      // bucket stage) falls back to SORT-BASED aggregation after this
      // many distinct keys per partition. The default 128 silently turns
      // each bucket group-by into a full sort of the exploded
      // (doc, shingle) data; the engine's bucket stages carry tens of
      // thousands of small-payload keys per partition, which the hash
      // map handles in bounded memory. Partition counts scale with the
      // cluster, so keys-per-partition stays bounded at 100 TB too.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      // 32 MB, not the 128 MB default: scan-split sizing should target a
      // few tasks per core for the LARGEST single input, and this engine's
      // local inputs are single parquet files (gen_sf writes one per
      // table) — at sf10 lineitem is 1.4 GB, which the default splits
      // into ~11 tasks on 32 cores, leaving 2/3 of the machine idle for
      // the whole columnar-decode phase (the q5 residual, r14 verdict
      // item 5). 32 MB yields ~44 lineitem splits (row groups are ~24 MB
      // compressed, so splits stay 1-2 row groups); AQE coalescing keeps
      // downstream partition counts right-sized regardless. A cluster
      // deployment with thousands of cores and multi-file tables should
      // override back up (SPARK_GRAFT_MAX_PARTITION_BYTES) — the knob
      // trades task-scheduling overhead against per-scan parallelism and
      // the right value is deployment-shaped, not universal.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES",
          (32L * 1024 * 1024).toString))
      // Generated-class cache (static conf, default 100 entries): a
      // session cycling through the full query surface generates more
      // distinct code bodies than that, so steady-state runs kept
      // re-Janino-compiling evicted classes — and a recompile in an
      // operator that resolves its projections lazily PER TASK (WindowExec)
      // convoys all task threads behind one compile lock (measured: 32
      // tasks, 771 s cumulative run-time vs 72 s CPU — blocked, not
      // computing). Bytecode is tiny; keep every class of a working set.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      // StreamingQuery.stop() waits for the stream-execution thread; the
      // default timeout 0 means wait FOREVER, so on a degraded host a
      // wedged stream would hang the harness in the very cleanup path its
      // awaitTermination timeout exists for. 10 s turns that hang into a
      // TimeoutException the caller already reports as a failure.
      .config("spark.sql.streaming.stopTimeout", "10000")
      .config("spark.ui.enabled", "false")
      // Fork-free local FS: without the native Hadoop lib, every local
      // mkdir/create shells out to `chmod`, and child-process spawn from
      // a large-heap JVM costs tens of seconds on sandboxed hosts —
      // measured as idle-CPU "blocked, not computing" driver time under
      // every parquet write. See sources.NioLocalFs.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
    master.fold(b)(b.master)
  }

  /** Local session for tests and ad-hoc runs. */
  def local(appName: String = "graft", threads: Int = 0): SparkSession = {
    val m = if (threads <= 0) "local[*]" else s"local[$threads]"
    val s = builder(appName, Some(m)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory with the scale knobs the north rule calls
  * out (explicit shuffle partitions, AQE + skew handling, broadcast
  * threshold, custom function extensions). On a real cluster the same
  * settings go through spark-submit --conf; this is the single place the
  * engine documents them.
  *
  * `file://` is served by [[ForkFreeLocalFs]]: without libhadoop (the
  * Spark distribution ships none) the stock local filesystem forks
  * `/bin/chmod` for every file and `.crc` sidecar it creates, which made
  * a local `create` cost milliseconds and the 64-part pipeline sink cost
  * more than the scoring it follows. Two caveats:
  *  - sessions built elsewhere (e.g. `graft.Verify`'s own builder) keep
  *    the stock filesystem and its forks;
  *  - Hadoop caches filesystems JVM-wide per scheme, so whichever
  *    configuration first resolves `file://` in a JVM decides the class
  *    for all later lookups through the cache.
  *
  * Listing a table with more partition dirs than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) runs as a
  * Spark job with one task per dir, up to
  * `spark.sql.sources.parallelPartitionDiscovery.parallelism` (10000). The
  * pipeline sink's re-read of its 64 `part=N` dirs paid a 64-task job for
  * that; the parallelism is tied to the cores instead ([[ListingParallelism]]).
  * The threshold stays: raising it would list every dir serially on the
  * driver, which on object stores is the slow path.
  *
  * Spark keeps the Janino-compiled classes of generated code in one LRU
  * cache per JVM, `spark.sql.codegen.cache.maxEntries` entries (default
  * 100). The query catalogue needs about ten times that: a pass over all
  * 97 `SparkEntry.queries` compiles ≈1020 distinct classes (1014–1021
  * measured at sf0.01 and sf0.1), and the benchmark's three
  * corpus-operator queries 132 (q84 63, q42 33, q83 36). At 100 entries
  * a class is evicted before it is used again, so every pass that cycles
  * through the queries recompiles them (≈1.55k classes for the catalogue,
  * 100–125 for the three), and HotSpot interprets and JITs the reloaded
  * bytecode afresh.
  * [[CodegenCacheEntries]] holds about twice the measured working set;
  * the classes it keeps cost 5–9 MB more metaspace. Two caveats:
  *  - the cache is JVM-wide and sized once, when the JVM first generates
  *    code, from a *static* SQL conf: a session built after that, or a
  *    conf set on a running session, does not resize it;
  *  - sessions built elsewhere keep 100 entries: `graft.Verify` (the
  *    frozen correctness dump) and `graft.Explain` (plans only).
  */
object GraftSession {

  /** The `file://` implementation setting, shared with the test session. */
  val LocalFsImpl: (String, String) =
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFs].getName

  /** The parallel partition-discovery width setting, shared with the test
    * session; both set it to their cores: one listing task per core, not
    * one per dir. */
  val ListingParallelism: String = "spark.sql.sources.parallelPartitionDiscovery.parallelism"

  /** The generated-class cache size setting, shared with the test
    * session: about twice the ≈1020 classes of the query catalogue. */
  val CodegenCacheEntries: (String, String) = "spark.sql.codegen.cache.maxEntries" -> "2048"

  def builder(cores: Int, appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config(LocalFsImpl._1, LocalFsImpl._2)
      .config(ListingParallelism, cores.toString)
      .config(CodegenCacheEntries._1, CodegenCacheEntries._2)
      // shuffle partitions tied to parallelism, not the 200 default
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      // AQE: runtime coalescing + skew-join splitting
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      // dims up to 64 MB broadcast (region/nation/customer-sized)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // splittable input sizing for the wide narrow stages
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle/spill on tmpfs when available: local-mode shuffle is
      // page-cache-sized here, and routing it through the (shared,
      // contended) block device makes shuffle stages hostage to noisy
      // neighbors. On a real cluster this maps to fast local NVMe via
      // spark.local.dir in spark-submit conf.
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark"
        else System.getProperty("java.io.tmpdir"))

  def local(cores: Int, appName: String = "graft"): SparkSession = {
    val s = builder(cores, appName).master(s"local[$cores]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft.sources

import org.apache.spark.sql.SparkSession
import graft.core.Geom

/** Session-conf wrapper around [[Geom.scanPartitions]] — the shared
  * scan-task sizing rule for every chunk/block/object reader: the one
  * `neuroglancer` chunk scan, which every grid format (precomputed,
  * zarr2/OME-zarr2, zarr3, N5) reads through ([[NgScan.partitionsOf]]),
  * and by-id annotation objects.
  *
  * Both knobs are scale-dependent and therefore parameterised
  * (builder rules: local defaults must keep the driver's bench
  * comparable; production values go in the conf):
  *  - `spark.graft.scan.minBytesPerTask` (default 1 MiB): below this
  *    much estimated work per task, task-launch overhead dominates on
  *    local disk. A cluster reading a 100 TB layer never hits it —
  *    the parallelism/64-chunks-per-task cap rules there.
  *  - `spark.graft.scan.openCostBytes` (default 64 KiB): per-object
  *    open charge. Local fs opens cost ~tens of µs (~64 KiB at local
  *    NVMe bandwidth); object storage wants several MiB here, exactly
  *    like Spark's own `files.openCostInBytes` (4 MiB default).
  */
object ScanSizing {
  val MinBytesPerTaskKey = "spark.graft.scan.minBytesPerTask"
  val OpenCostBytesKey = "spark.graft.scan.openCostBytes"

  def partitions(spark: SparkSession, nChunks: Long, estBytes: Long): Int = {
    val minB = spark.conf.get(MinBytesPerTaskKey, (1L << 20).toString).toLong
    val openC = spark.conf.get(OpenCostBytesKey, (64L << 10).toString).toLong
    Geom.scanPartitions(nChunks, estBytes,
      math.max(spark.sparkContext.defaultParallelism, 1), minB, openC)
  }

  /** By-id object listing WITHOUT an O(objects) driver allocation
    * (VERDICT r18 item 7): the directory stream is spooled straight to
    * a names file — O(1) driver heap, the local-fs analogue of a paged
    * object-store listing — and comes back as a distributed text scan
    * sized by the shared rule above. Each call spools to its own names
    * file under the session's listing dir (never a result cache — it
    * holds names only): the returned dataset reads it lazily, by
    * however many actions consume it, so a later listing must never
    * replace it. The files go when the JVM exits.
    *
    * Assumes a filesystem shared by the driver and every executor: the
    * names file is written under the driver-local
    * `/tmp/graft_fixture/.listings/<applicationId>/` and the returned
    * text scan reads that path from the executors, which holds in local
    * mode or on a shared mount but not on a cluster whose executors
    * have their own `/tmp`.
    *
    * @param keep     filename filter, applied to regular files only
    * @param estBytes estimated decoded bytes PER OBJECT for the
    *                 scan-sizing rule (same meaning as [[partitions]])
    * @param repartitionBySize size the scan with [[partitions]]
    *                 (default); pass false when the caller immediately
    *                 re-keys the names (groupByKey by shard) and the
    *                 extra exchange would be pure overhead
    */
  def listedNames(spark: SparkSession, dir: java.nio.file.Path,
      keep: String => Boolean, estBytes: Long,
      repartitionBySize: Boolean = true)
      : org.apache.spark.sql.Dataset[String] = {
    import java.nio.file.{Files, Paths}
    val spool = Paths.get("/tmp/graft_fixture/.listings",
      spark.sparkContext.applicationId)
    Files.createDirectories(spool)
    val f = Files.createTempFile(spool, "names", ".txt")
    f.toFile.deleteOnExit()
    var n = 0L
    val w = Files.newBufferedWriter(f)
    try {
      val st = Files.list(dir)
      try {
        val it = st.iterator()
        while (it.hasNext) {
          val p = it.next()
          val nm = p.getFileName.toString
          if (Files.isRegularFile(p) && keep(nm)) {
            w.write(nm); w.newLine(); n += 1
          }
        }
      } finally st.close()
    } finally w.close()
    val ds = spark.read.textFile(f.toString)
    if (repartitionBySize) ds.repartition(partitions(spark, n, estBytes))
    else ds
  }
}

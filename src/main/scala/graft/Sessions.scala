package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for the batch mains: Bench, Verify, the
  * measuring tool ([[graft.tools.Measure]]), the scale generators and the
  * test session all start from [[batch]], so a tool can never measure a
  * different engine than the one benchmarked. */
object Sessions {

  /** ObjectHashAggregate (collect_list/collect_set paths: the dedup
    * rarity index, PQ LUT maps, …) falls back to SORT-based aggregation
    * past 128 distinct groups per task — a default so conservative the
    * fallback fired on EVERY task at sf0.1 (numTasksFallBacked=32;
    * measured r21: dedup_cand_pairs -37% CPU, dedup_source_overlap -17%
    * with the fallback lifted). 8192 groups × doc-sized lists is a few MB
    * per task at any scale; the fallback (graceful, per-task) still
    * guards the pathological case. */
  val ObjAggFallbackThreshold = 8192

  /** The batch conf set for `local[cpus]`: one shuffle partition per
    * core, UTC session time (every timestamp convention in
    * [[Tables.micros]] depends on it), TIMESTAMP(NANOS) parquet readable
    * (see [[Tables.events]]), no UI, shuffle/spill on [[localDir]]. */
  private[graft] def batchConf(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> localDir,
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
      ObjAggFallbackThreshold.toString)
  // spark.sql.join.preferSortMergeJoin deliberately stays at its default:
  // an r21 sequential A/B showed apparent 25-46% wins that a null test
  // (conf set to its own default) reproduced — pure JIT order bias. The
  // interleaved A/B measured SMJ vs shuffled-hash within ±10% noise at
  // sf0.1, with only rel_salted_join's plan changing at all
  // (OPTIMIZATION_r21.md "O4 (negative result)").

  /** A `local[cpus]` builder carrying [[batchConf]]. Callers that need
    * more (probe-scale timeouts, test-only codegen strictness) chain
    * `.config(...)` onto it. */
  def batch(cpus: Int): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cpus]").config(batchConf(cpus))

  /** Core count for the batch mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Scale-factor directory for the timing mains: `SPARK_GRAFT_SF_DIR`,
    * default the bench SF. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** RAM-backed shuffle directory, used when [[ShmFloorBytes]] fit. */
  private[graft] val ShmDir = "/dev/shm/graft-spark-local"

  /** Least usable tmpfs space that makes [[ShmDir]] the shuffle dir. A
    * bench-SF query shuffles a few MB, the locally generated sf1 a few
    * hundred; 4 GiB leaves room for both with margin, while a small or
    * nearly full /dev/shm (container defaults are often 64 MB) falls back
    * to disk instead of failing a query with ENOSPC. */
  private[graft] val ShmFloorBytes = 4L << 30

  /** Scratch directory for shuffle and spill files (`spark.local.dir`).
    *
    * Optimization guide §2.1: "Local disk bandwidth for shuffle files can
    * be the tighter limit on machines with slow disks — check both." On
    * this sandbox it IS the limit — /tmp sits on a virtio ext4 disk whose
    * file syscalls are slow, and r22 thread dumps of the hot 32-task
    * stages caught the RUNNABLE executor threads inside shuffle-file
    * syscalls (`FileOutputStream.open0`, `FileDispatcherImpl.write0`,
    * `FileChannelImpl.map0/unmap0`, `UnixFileSystem.delete0`), not inside
    * query compute. /dev/shm is RAM-backed (tmpfs); moving the shuffle
    * dirs there removed that term (OPTIMIZATION_r22.md O2, adjacent runs:
    * `text_tfidf_topk` 1.69 → 0.98 s, `sim_pq_codes` 2.41 → 1.81 s).
    *
    * tmpfs is only chosen when it has [[ShmFloorBytes]] free
    * ([[pickLocalDir]]). On a production cluster this must point at the
    * fastest LOCAL DISK array (NVMe), not tmpfs — at 100 TB shuffle data
    * cannot live in RAM — hence the `SPARK_GRAFT_LOCAL_DIR` deployment
    * setting. */
  def localDir: String =
    sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
      val shm = new java.io.File("/dev/shm")
      val usable = if (shm.isDirectory && shm.canWrite) shm.getUsableSpace else 0L
      pickLocalDir(usable, System.getProperty("java.io.tmpdir", "/tmp"))
    })

  /** [[ShmDir]] when `shmUsableBytes` exceed [[ShmFloorBytes]], else
    * `tmpDir`. */
  private[graft] def pickLocalDir(shmUsableBytes: Long, tmpDir: String): String =
    if (shmUsableBytes > ShmFloorBytes) ShmDir else tmpDir
}

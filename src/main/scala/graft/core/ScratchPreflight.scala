package graft.core

import org.apache.spark.sql.SparkSession

/** Shuffle-scratch preflight for the dedup verify tail. The one real
  * single-box lesson of the sf100 rung (BASELINE.md): the containment
  * verify exchange wants ~68 GB of shuffle scratch — ordinary provisioned space on a cluster, but on
  * one box it silently fills `/tmp` mid-run unless `SPARK_LOCAL_DIRS`
  * spans more volumes. This turns that lesson into a check that runs
  * before any query does.
  *
  * Calibration, from measured rungs: containment prefix candidates
  * grew at a constant ~17.2/doc at every measured decade (sf0.1 →
  * sf100: 86,245/5k … 85,965,668/5M docs, BASELINE.md), and the sf100
  * run peaked at ~68 GB scratch for 85.9M candidates ≈ 850 B/candidate of
  * shuffle file + spill. The estimate is deliberately the TAIL's
  * dominant term, not a sum — other keys' exchanges are an order
  * smaller and sequential with it. */
object ScratchPreflight {
  val CandidatesPerDoc = 17.2
  val BytesPerCandidate = 850L

  def estimateBytes(nDocs: Long): Long =
    (nDocs * CandidatesPerDoc * BytesPerCandidate).toLong

  /** The pure decision — unit-tested against synthetic disk states. */
  def warning(estimate: Long, free: Long, dirs: Seq[String]): Option[String] =
    if (free >= estimate) None
    else Some(
      f"[graft] scratch preflight: dedup verify tail estimates ${estimate / 1e9}%.1f GB " +
        f"shuffle scratch; only ${free / 1e9}%.1f GB free across ${dirs.mkString(",")} — " +
        "set SPARK_LOCAL_DIRS to span more volumes (e.g. tmpfs+disk) before this run")

  /** Usable bytes across `dirs`, deduped by VOLUME, not by path
    * string: `SPARK_LOCAL_DIRS=/tmp/a,/tmp/b` names two dirs on one
    * filesystem, and summing `getUsableSpace` per dir would count the
    * same free bytes twice — silencing the preflight exactly in the
    * multi-dir configuration its own warning recommends (r10, per
    * advisor). One representative dir per `FileStore`. */
  private[graft] def usableAcross(dirs: Seq[String]): Long = {
    val existing = dirs.distinct.map(new java.io.File(_)).filter(_.exists())
    existing
      .groupBy[AnyRef] { d =>
        // UnixFileStore#equals compares the underlying device id, so
        // grouping by the store object itself distinguishes two tmpfs
        // mounts while merging two dirs on one volume
        try java.nio.file.Files.getFileStore(d.toPath)
        catch { case _: java.io.IOException => d.getPath }
      }
      .values.map(_.head.getUsableSpace).sum
  }

  /** Estimate from the corpus itself (a parquet-footer count — no data
    * read), measure the actual scratch dirs, warn on stderr. Returns
    * the warning so Bench can stamp `scratch_warn` into its artifact. */
  def check(spark: SparkSession, sfDir: String): Option[String] = {
    val docs = new java.io.File(sfDir, "documents.parquet")
    if (!docs.exists()) return None
    val nDocs = spark.read.parquet(docs.getPath).count()
    val dirs = sys.env.get("SPARK_LOCAL_DIRS")
      .map(_.split(",").toSeq)
      .orElse(spark.conf.getOption("spark.local.dir").map(_.split(",").toSeq))
      .getOrElse(Seq(System.getProperty("java.io.tmpdir", "/tmp")))
    val free = usableAcross(dirs)
    val w = warning(estimateBytes(nDocs), free, dirs)
    w.foreach(System.err.println)
    w
  }
}

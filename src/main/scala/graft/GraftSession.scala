package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of Bench, Verify, Scratch and the specs. */
object GraftSession {
  /** A `local[cpus]` session with `cpus` shuffle partitions, the
    * GraftExtensions rules, UTC session time, no UI and WARN logging.
    * Kryo is the serializer because RDD shuffles outside the Fixpoint
    * kernel serialize per record through `spark.serializer`: the
    * JavaSerializer default costs ~10x per row (SQL exchanges are
    * unaffected - they use UnsafeRow). */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

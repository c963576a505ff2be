package graft.catalog

import org.apache.spark.sql.SparkSession

/** Amazon S3 credential helpers — the reference's s3.py surface
  * (geopyspark geotrellis/s3.py:34 `set_s3_credentials`, a
  * context manager over the session conf), re-expressed as a Scala
  * loan pattern over the session's Hadoop configuration — which every
  * graft IO path (catalog store, DSv2 scan/sink, GeoTiff scenes,
  * TFRecord/WebDataset shards) already resolves its FileSystem from,
  * so credentials set here reach executors through the same
  * `Catalog.confProps()` snapshot the writers ship.
  */
object S3 {

  /** The reference's `Credentials` named tuple (s3.py:20). */
  final case class Credentials(accessKey: String, secretKey: String)

  private val UriTypes = Set("s3", "s3a", "s3n")
  private val S3aImpl = "org.apache.hadoop.fs.s3a.S3AFileSystem"

  /** Serializes [[withCredentials]] blocks: the hadoopConfiguration is
    * SESSION-GLOBAL, so overlapping set/restore pairs from concurrent
    * driver threads would lose updates (stale snapshot restored). */
  private val credLock = new Object

  /** Run `body` with `creds` installed for `uriType` ("s3" | "s3a" |
    * "s3n"), restoring the previous configuration afterwards — the
    * reference's context-manager semantics (temporary credentials for
    * one read/write, e.g. a cross-account bucket). For "s3a" the
    * filesystem impl is pinned too (s3.py S3A_FS_CONSTANT).
    *
    * Concurrency contract (r15): the keys mutate the session-global
    * hadoopConfiguration — this mirrors the reference's context
    * manager, which has the same global effect on the JVM config.
    * Blocks are serialized under a lock so overlapping calls can no
    * longer restore stale snapshots; but OTHER jobs running in the
    * same SparkSession during `body` still observe the temporary
    * credentials. For true per-bucket isolation set Hadoop's
    * per-bucket keys (fs.s3a.bucket.<name>.access.key / .secret.key)
    * via [[setCredentials]]-style config instead of the global keys. */
  def withCredentials[T](spark: SparkSession, creds: Credentials,
      uriType: String = "s3a")(body: => T): T = credLock.synchronized {
    require(UriTypes(uriType),
      s"Cannot set S3 credentials for unrecognized URI type $uriType")
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq(s"fs.$uriType.access.key", s"fs.$uriType.secret.key") ++
      (if (uriType == "s3a") Seq("fs.s3a.impl") else Nil)
    val saved = keys.map(k => k -> Option(conf.get(k)))
    setCredentials(spark, creds, uriType)
    try body
    finally saved.foreach { case (k, old) => old.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** Session-lifetime variant (no restore): install once, every
    * subsequent graft IO against `uriType` URIs uses the keys. */
  def setCredentials(spark: SparkSession, creds: Credentials,
      uriType: String = "s3a"): Unit = {
    require(UriTypes(uriType),
      s"Cannot set S3 credentials for unrecognized URI type $uriType")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.$uriType.access.key", creds.accessKey)
    conf.set(s"fs.$uriType.secret.key", creds.secretKey)
    if (uriType == "s3a") conf.set("fs.s3a.impl", S3aImpl)
  }
}

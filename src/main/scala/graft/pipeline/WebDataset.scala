package graft.pipeline

import java.io.ByteArrayOutputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog

/** WebDataset interchange — the tar-shard convention multimodal
  * training pipelines (img2dataset / OpenCLIP-style loaders) consume:
  * each shard is a POSIX ustar archive whose entries are named
  * `{key}.{ext}`, and all entries sharing a key prefix form one
  * SAMPLE (image + caption + metadata ride together; sequential tar
  * reads give samples in storage order — the whole point of the
  * format at scale). Written from the PUBLIC ustar layout (512-byte
  * headers: name 100, mode/uid/gid octal, size 12-octal, mtime,
  * chksum computed over the header with the checksum field blanked,
  * "ustar\0" + "00" magic; data 512-padded; two zero blocks
  * terminate) — no external tar library.
  *
  * Determinism: mtime 0, mode 0644, uid/gid 0, samples sorted by key
  * and entries by extension, so shard bytes are identical across
  * runs. Scale shape mirrors [[TFRecord]]: one task streams each
  * shard straight to the Hadoop FS; the reader walks one shard per
  * task.
  */
object WebDataset {

  /** One ustar header block (512 bytes) for a regular file. */
  def tarHeader(name: String, size: Long): Array[Byte] = {
    require(name.getBytes("UTF-8").length <= 100, s"entry name too long: $name")
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes("US-ASCII")
      System.arraycopy(b, 0, h, off, b.length)
    }
    def octal(off: Int, width: Int, v: Long): Unit =
      // width-1 octal digits + NUL terminator (the common ustar form)
      put(off, ("%0" + (width - 1) + "o").format(v).takeRight(width - 1))
    put(0, name)
    octal(100, 8, 420)         // mode 0644
    octal(108, 8, 0)           // uid
    octal(116, 8, 0)           // gid
    octal(124, 12, size)
    octal(136, 12, 0L)         // mtime: epoch (deterministic bytes)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum blanked
    h(156) = '0'               // typeflag: regular file
    put(257, "ustar")          // magic, NUL-terminated at 262
    h(263) = '0'; h(264) = '0' // version "00"
    var sum = 0L
    var i = 0
    while (i < 512) { sum += (h(i) & 0xff); i += 1 }
    put(148, "%06o".format(sum)) // 6 digits + NUL + space
    h(154) = 0; h(155) = ' '
    h
  }

  private def pad512(n: Long): Int = ((512 - (n % 512)) % 512).toInt

  /** Export samples as `n` tar shards `shard-00000.tar` … under `dir`.
    * `samples`: (key LONG, entries MAP<STRING ext, BINARY payload>);
    * entry names are `{key}.{ext}`. Shard = floorMod(key, n) —
    * non-negative even for negative keys (plain % would emit
    * malformed `shard--0001` names). */
  def writeShards(samples: DataFrame, dir: String, n: Int = 4): Unit = {
    require(n >= 1 && n <= 100000, "1..100000 shards")
    val spark = samples.sparkSession
    import spark.implicits._
    val props = Catalog.confProps(spark.sparkContext.hadoopConfiguration)
    samples.select(col("key").cast("long"), col("entries"))
      .as[(Long, Map[String, Array[Byte]])]
      .groupByKey(s => Math.floorMod(s._1, n.toLong).toInt)
      .flatMapGroups { (shard: Int, it: Iterator[(Long, Map[String, Array[Byte]])]) =>
        val conf = Catalog.confFrom(props)
        val p = new Path(f"$dir/shard-$shard%05d.tar")
        val out = p.getFileSystem(conf).create(p, true)
        var count = 0L
        try {
          it.toArray.sortBy(_._1).foreach { case (key, entries) =>
            entries.toSeq.sortBy(_._1).foreach { case (ext, payload) =>
              out.write(tarHeader(s"$key.$ext", payload.length.toLong))
              out.write(payload)
              out.write(new Array[Byte](pad512(payload.length.toLong)))
            }
            count += 1
          }
          out.write(new Array[Byte](1024)) // two zero end blocks
        } finally out.close()
        Iterator.single((shard, count))
      }
      .toDF("shard", "n_samples")
      .collect()
    ()
  }

  /** Read WebDataset shards back: (shard, key, ext, payload). One task
    * per shard; header checksums verified. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val props = Catalog.confProps(spark.sparkContext.hadoopConfiguration)
    val d = new Path(dir)
    val files = d.getFileSystem(Catalog.confFrom(props)).listStatus(d)
      .map(_.getPath.toString).filter(_.endsWith(".tar")).sorted.toSeq
    spark.createDataset(files).repartition(math.max(1, files.size))
      .flatMap { file =>
        val p = new Path(file)
        val shard = p.getName.stripPrefix("shard-").stripSuffix(".tar").toInt
        val in = p.getFileSystem(Catalog.confFrom(props)).open(p)
        val bytes = try {
          val bos = new ByteArrayOutputStream()
          val buf = new Array[Byte](64 * 1024)
          var k = in.read(buf)
          while (k >= 0) { bos.write(buf, 0, k); k = in.read(buf) }
          bos.toByteArray
        } finally in.close()
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String, Array[Byte])]
        var pos = 0
        var done = false
        while (!done && pos + 512 <= bytes.length) {
          if (bytes(pos) == 0) done = true // end-of-archive zero block
          else {
            val name = {
              var e = pos
              while (e < pos + 100 && bytes(e) != 0) e += 1
              new String(bytes, pos, e - pos, "UTF-8")
            }
            val size = java.lang.Long.parseLong(
              new String(bytes, pos + 124, 11, "US-ASCII").trim, 8)
            // verify checksum (field blanked during the sum)
            val stated = java.lang.Long.parseLong(
              new String(bytes, pos + 148, 6, "US-ASCII").trim, 8)
            var sum = 0L
            var i = 0
            while (i < 512) {
              sum += (if (i >= 148 && i < 156) ' '.toLong else (bytes(pos + i) & 0xff)); i += 1
            }
            require(sum == stated, s"tar header checksum mismatch at $pos in $file")
            val dot = name.lastIndexOf('.')
            require(dot > 0, s"entry $name is not {key}.{ext}")
            val key = name.substring(0, dot).toLong
            val ext = name.substring(dot + 1)
            val payload = java.util.Arrays.copyOfRange(
              bytes, pos + 512, pos + 512 + size.toInt)
            out += ((shard, key, ext, payload))
            pos += 512 + size.toInt + pad512(size)
          }
        }
        out.iterator
      }.toDF("shard", "key", "ext", "payload")
  }
}

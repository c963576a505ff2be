package graft.pipeline

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog

/** TFRecord interchange — the shard format TensorFlow/JAX input
  * pipelines consume, written and read from the PUBLIC specs with no
  * TF dependency:
  *
  *  - record framing (TFRecord format): `uint64 length (LE) ·
  *    uint32 masked_crc32c(length) · payload · uint32
  *    masked_crc32c(payload)`, mask(crc) = ((crc >>> 15) | (crc << 17))
  *    + 0xa282ead8 (all uint32), CRC32C (Castagnoli — JDK
  *    java.util.zip.CRC32C).
  *  - payload: a `tf.train.Example` protobuf with two features,
  *    `doc_id` (int64_list) and `text` (bytes_list), hand-encoded on
  *    the protobuf wire format (tag = field<<3 | wiretype, varints,
  *    length-delimited submessages) — the fixed shape a text corpus
  *    export needs; the reader parses exactly this shape back and
  *    fails loudly on anything else.
  *
  * Scale shape: `writeShards` sorts by (shard, doc_id) into `n`
  * range partitions and each TASK streams its shard straight to the
  * Hadoop FS (file://, hdfs://, s3a://) — no driver collect, one file
  * per shard, byte-deterministic contents (fixed record order). The
  * reader lists shards driver-side (names only) and parallelizes the
  * file walk — one task per shard file, records parsed in-executor.
  */
object TFRecord {

  private val MaskDelta = 0xa282ead8

  /** Masked CRC32C per the TFRecord spec (uint32 arithmetic). */
  def maskedCrc32c(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(bytes, off, len)
    val crc = c.getValue.toInt // uint32 in the low 32 bits
    ((crc >>> 15) | (crc << 17)) + MaskDelta
  }

  /** Frame one payload as a TFRecord record. */
  def frame(payload: Array[Byte]): Array[Byte] = {
    val lenBytes = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      .putLong(payload.length.toLong).array()
    val out = ByteBuffer.allocate(8 + 4 + payload.length + 4).order(ByteOrder.LITTLE_ENDIAN)
    out.put(lenBytes)
    out.putInt(maskedCrc32c(lenBytes, 0, 8))
    out.put(payload)
    out.putInt(maskedCrc32c(payload, 0, payload.length))
    out.array()
  }

  // ---- minimal protobuf writer (wire format, public spec) ----

  private def writeVarint(o: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    o.write(v.toInt)
  }

  private def lenDelimited(field: Int, body: Array[Byte], o: ByteArrayOutputStream): Unit = {
    writeVarint(o, (field << 3) | 2) // wiretype 2 = length-delimited
    writeVarint(o, body.length.toLong)
    o.write(body)
  }

  /** Encode tf.train.Example{features{feature{"doc_id": int64_list},
    * feature{"text": bytes_list}}}. Message shapes (tensorflow
    * example.proto / feature.proto, public):
    * Example.features = field 1; Features.feature = map<string,
    * Feature> field 1 (a map entry is a submessage with key=1,
    * value=2); Feature.bytes_list = 1, int64_list = 3;
    * BytesList.value = 1 (bytes), Int64List.value = 1 (varint). */
  def encodeExample(docId: Long, text: Array[Byte]): Array[Byte] = {
    def int64List(v: Long): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      writeVarint(o, (1 << 3) | 0); writeVarint(o, v) // packed=false form
      o.toByteArray
    }
    def bytesList(b: Array[Byte]): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      lenDelimited(1, b, o)
      o.toByteArray
    }
    def feature(fieldNo: Int, body: Array[Byte]): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      lenDelimited(fieldNo, body, o) // Feature.{bytes_list=1|int64_list=3}
      o.toByteArray
    }
    def mapEntry(key: String, feat: Array[Byte]): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      lenDelimited(1, key.getBytes("UTF-8"), o)
      lenDelimited(2, feat, o)
      o.toByteArray
    }
    val features = {
      val o = new ByteArrayOutputStream()
      // deterministic entry order: doc_id then text
      lenDelimited(1, mapEntry("doc_id", feature(3, int64List(docId))), o)
      lenDelimited(1, mapEntry("text", feature(1, bytesList(text))), o)
      o.toByteArray
    }
    val o = new ByteArrayOutputStream()
    lenDelimited(1, features, o) // Example.features = 1
    o.toByteArray
  }

  // ---- minimal protobuf reader for exactly that shape ----

  private final class Reader(b: Array[Byte], var pos: Int, val end: Int) {
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (true) {
        val x = b(pos); pos += 1
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return v
        shift += 7
      }
      v
    }
    def bytes(n: Int): Array[Byte] = {
      val out = java.util.Arrays.copyOfRange(b, pos, pos + n); pos += n; out
    }
    def sub(): Reader = { val n = varint().toInt; val r = new Reader(b, pos, pos + n); pos += n; r }
  }

  /** Decode one Example payload back to (doc_id, text bytes). */
  def decodeExample(payload: Array[Byte]): (Long, Array[Byte]) = {
    var docId = Long.MinValue
    var text: Array[Byte] = null
    val ex = new Reader(payload, 0, payload.length)
    while (ex.pos < ex.end) {
      val tag = ex.varint()
      require(tag == ((1 << 3) | 2), s"unexpected Example field tag $tag")
      val features = ex.sub()
      while (features.pos < features.end) {
        val ftag = features.varint()
        require(ftag == ((1 << 3) | 2), s"unexpected Features tag $ftag")
        val entry = features.sub()
        var key = ""
        while (entry.pos < entry.end) {
          entry.varint() match {
            case t if t == ((1 << 3) | 2) => // map key
              key = new String(entry.bytes(entry.varint().toInt), "UTF-8")
            case t if t == ((2 << 3) | 2) => // Feature value
              val feat = entry.sub()
              while (feat.pos < feat.end) {
                val vt = feat.varint()
                if (vt == ((3 << 3) | 2)) { // int64_list
                  val l = feat.sub()
                  while (l.pos < l.end) {
                    require(l.varint() == ((1 << 3) | 0), "int64_list shape")
                    val v = l.varint()
                    if (key == "doc_id") docId = v
                  }
                } else if (vt == ((1 << 3) | 2)) { // bytes_list
                  val l = feat.sub()
                  while (l.pos < l.end) {
                    require(l.varint() == ((1 << 3) | 2), "bytes_list shape")
                    val b2 = l.bytes(l.varint().toInt)
                    if (key == "text") text = b2
                  }
                } else throw new IllegalArgumentException(s"unexpected Feature tag $vt")
              }
            case t => throw new IllegalArgumentException(s"unexpected map-entry tag $t")
          }
        }
      }
    }
    require(docId != Long.MinValue && text != null,
      "Example missing doc_id int64_list or text bytes_list")
    (docId, text)
  }

  /** Export (doc_id, text) rows as `n` TFRecord shard files
    * `part-00000.tfrecord` … under `dir`. Shard = floorMod(doc_id, n)
    * (content-stable, non-negative even for negative ids — a plain %
    * would emit malformed `part--0001` names), records sorted by
    * doc_id within each shard — byte-deterministic output. Each task
    * streams one shard to the Hadoop FS. */
  def writeShards(docs: DataFrame, dir: String, n: Int = 4): Unit = {
    require(n >= 1 && n <= 100000, "1..100000 shards")
    val spark = docs.sparkSession
    import spark.implicits._
    val confProps = Catalog.confProps(spark.sparkContext.hadoopConfiguration)
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .groupByKey(d => Math.floorMod(d._1, n.toLong).toInt)
      .flatMapGroups { (shard: Int, it: Iterator[(Long, String)]) =>
        val conf = Catalog.confFrom(confProps)
        val p = new Path(f"$dir/part-$shard%05d.tfrecord")
        val fs = p.getFileSystem(conf)
        val out = fs.create(p, true)
        var count = 0L
        try {
          it.toArray.sortBy(_._1).foreach { case (id, text) =>
            out.write(frame(encodeExample(id, text.getBytes("UTF-8"))))
            count += 1
          }
        } finally out.close()
        Iterator.single((shard, count))
      }
      .toDF("shard", "n_records")
      .collect() // force the write; tiny (one row per shard)
    ()
  }

  /** Read TFRecord shards back: (shard, doc_id, text). One task per
    * shard file; CRCs verified on every record. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val confProps = Catalog.confProps(spark.sparkContext.hadoopConfiguration)
    val conf = Catalog.confFrom(confProps)
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    val files = fs.listStatus(d).map(_.getPath.toString)
      .filter(_.endsWith(".tfrecord")).sorted.toSeq
    spark.createDataset(files).repartition(math.max(1, files.size))
      .flatMap { file =>
        val c = Catalog.confFrom(confProps)
        val p = new Path(file)
        val shard = p.getName.stripPrefix("part-").stripSuffix(".tfrecord").toInt
        val in = p.getFileSystem(c).open(p)
        val bytes = try {
          val bos = new ByteArrayOutputStream()
          val buf = new Array[Byte](64 * 1024)
          var n = in.read(buf)
          while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
          bos.toByteArray
        } finally in.close()
        var pos = 0
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String)]
        while (pos < bytes.length) {
          val bb = ByteBuffer.wrap(bytes, pos, 12).order(ByteOrder.LITTLE_ENDIAN)
          val len = bb.getLong.toInt
          val lenCrc = bb.getInt
          require(lenCrc == maskedCrc32c(bytes, pos, 8), s"length CRC mismatch at $pos")
          val payload = java.util.Arrays.copyOfRange(bytes, pos + 12, pos + 12 + len)
          val dataCrc = ByteBuffer.wrap(bytes, pos + 12 + len, 4)
            .order(ByteOrder.LITTLE_ENDIAN).getInt
          require(dataCrc == maskedCrc32c(payload, 0, len), s"payload CRC mismatch at $pos")
          val (id, text) = decodeExample(payload)
          out += ((shard, id, new String(text, "UTF-8")))
          pos += 12 + len + 4
        }
        out.iterator
      }.toDF("shard", "doc_id", "text")
  }
}

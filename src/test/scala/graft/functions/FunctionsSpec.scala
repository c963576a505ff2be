package graft.functions

import org.apache.spark.sql.graft.{BandsPackExpr, BandsUnpackExpr, ClassifyMinDistExpr, GraftExtensions, LongDotExpr, TilePackExpr, TileStatsExpr, TileUnpackExpr}

import graft.SparkSpec
import graft.core.CellType

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("TileStatsExpr computes NaN-skipping stats (codegen + interpreted)") {
    val df = Seq(Seq(1.0, Double.NaN, 3.0), Seq(Double.NaN, Double.NaN, Double.NaN))
      .toDF("tile")
    val rows = df.select(TileStatsExpr.tileStats($"tile").as("st"))
      .selectExpr("st.vsum", "st.vcnt", "st.vmin", "st.vmax").collect()
    assert(rows(0).getDouble(0) == 4.0 && rows(0).getLong(1) == 2L)
    assert(rows(0).getDouble(2) == 1.0 && rows(0).getDouble(3) == 3.0)
    assert(rows(1).getLong(1) == 0L && rows(1).getDouble(2).isNaN)
  }

  test("ClassifyMinDistExpr refuses band tiles that can hold a null cell") {
    // one 2-cell band; signatures 0:(0) and 1:(10)
    def classify(df: org.apache.spark.sql.DataFrame) =
      df.select(ClassifyMinDistExpr.classifyMinDist($"bands", Array(0, 1), Array(0.0, 10.0), 1, 2))
    val ok = Seq(Seq(Seq(1.0, 9.0))).toDF("bands")
    assert(classify(ok).as[Seq[Double]].head() == Seq(0.0, 1.0))
    // a null cell would read as 0.0 and classify as class 0
    val withNull = Seq(Seq(Seq(Some(9.0), None))).toDF("bands")
    val e = intercept[org.apache.spark.sql.AnalysisException](classify(withNull).collect())
    assert(e.getMessage.contains("must not contain nulls"))
  }

  test("LongDotExpr fused dot product") {
    val df = Seq((Seq(1L, 2L, 3L), Seq(4L, 5L, 6L))).toDF("a", "b")
    val out = df.select(LongDotExpr.longDot($"a", $"b")).as[Long].head()
    assert(out == 32L)
  }

  test("TilePack/TileUnpack roundtrip every cell type, NaN NoData preserved") {
    // 255 would collide with uint8's sentinel; CellType clamps it to 254,
    // so stay inside each type's data domain and add NaN NoData cells
    val cells = Seq(0.0, 1.0, 17.0, Double.NaN, 126.0, Double.NaN, 42.0)
    // bit is the one NoData-less type (NaN -> 0) with an 8-cell grain;
    // its codec is covered by CellTypeSpec + the q_celltype_bit oracle
    for (ct <- CellType.all if ct.name != "bit") {
      val df = Seq(Tuple1(cells)).toDF("tile")
      val back = df
        .select(TilePackExpr.packCol($"tile", ct.name).as("blob"))
        .select(TileUnpackExpr.unpackCol($"blob", ct.name).as("tile"))
        .as[Seq[Double]].head()
      assert(back.length == cells.length, ct.name)
      cells.zip(back).foreach { case (a, b) =>
        assert(a.isNaN == b.isNaN && (a.isNaN || a == b), s"${ct.name}: $a vs $b")
      }
      // bit-identical to the CellType reference codec
      val blob = df.select(TilePackExpr.packCol($"tile", ct.name)).as[Array[Byte]].head()
      assert(java.util.Arrays.equals(blob, ct.pack(cells.toArray)), ct.name)
    }
  }

  test("BandsPack/BandsUnpack roundtrip a band stack in one blob") {
    val bands = Seq(Seq(1.0, 2.0, Double.NaN, 4.0), Seq(5.0, Double.NaN, 7.0, 8.0),
      Seq(9.0, 10.0, 11.0, 12.0))
    for (ct <- Seq(CellType.Uint8, CellType.Int16, CellType.Float32)) {
      val df = Seq(Tuple1(bands)).toDF("bands")
      val blob = df.select(BandsPackExpr.packCol($"bands", ct.name)).as[Array[Byte]].head()
      assert(blob.length == 3 * 4 * ct.bytes, ct.name)
      val back = df
        .select(BandsPackExpr.packCol($"bands", ct.name).as("blob"))
        .select(BandsUnpackExpr.unpackCol($"blob", ct.name, 3).as("bands"))
        .as[Seq[Seq[Double]]].head()
      assert(back.length == 3, ct.name)
      bands.zip(back).foreach { case (ba, bb) =>
        ba.zip(bb).foreach { case (a, b) =>
          assert(a.isNaN == b.isNaN && (a.isNaN || a == b), s"${ct.name}: $a vs $b")
        }
      }
    }
  }

  test("pack stage stays inside whole-stage codegen — no UDF on the write path") {
    // the VERDICT r8 ask: the catalog pack projection must compile into
    // the codegen stage feeding the write exchange, not fall out to a
    // ScalaUDF eval boundary
    // spark.range (not a local Seq): ConvertToLocalRelation would
    // constant-fold a literal input and leave nothing to inspect
    val df = spark.range(4)
      .select(org.apache.spark.sql.functions.array($"id".cast("double")).as("tile"))
      .select(TilePackExpr.packCol($"tile", "uint8").as("blob"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("tile_pack"), plan.take(600))
    assert(!plan.contains("UDF") && !plan.contains("ScalaUDF"), plan.take(600))
    // the Project carrying tile_pack sits under a WholeStageCodegen stage
    // (the "*(n)" marker on its plan line)
    val packLine = plan.linesIterator.find(_.contains("tile_pack")).get
    assert(packLine.trim.startsWith("*("), packLine)
  }

  test("extension registration exposes SQL functions") {
    GraftExtensions.register(spark)
    val out = spark.sql("SELECT long_dot(array(1L, 2L), array(3L, 4L)) AS d")
      .as[Long].head()
    assert(out == 11L)
    val st = spark.sql("SELECT tile_stats(array(CAST(2.0 AS DOUBLE), CAST('NaN' AS DOUBLE))).vsum AS s")
      .as[Double].head()
    assert(st == 2.0)
    // catalog codecs with literal cell-type names
    val rt = spark.sql(
      "SELECT tile_unpack(tile_pack(array(CAST(3.0 AS DOUBLE), CAST(250.0 AS DOUBLE)), 'uint8'), 'uint8') AS t")
      .as[Seq[Double]].head()
    assert(rt == Seq(3.0, 250.0))
    // non-literal cell type is a configuration error, not data
    intercept[Exception](
      spark.sql("SELECT tile_pack(array(CAST(1.0 AS DOUBLE)), concat('ui', rand())) AS t").collect())
  }
}

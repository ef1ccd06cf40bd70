package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Md5Unit
import graft.operators.Sampling

/** Pins the native md5-unit kernel (Md5UnitExpr, behind
  * Sampling.unitFromMd5) bit for bit against its string twin, under
  * both codegen modes. CODEGEN_ONLY runs with the whole-stage
  * fallback off, so a kernel whose generated Java does not compile
  * fails here instead of silently running interpreted. */
class Md5UnitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The string form of the md5-unit contract, as it ran before the
    * native kernel: first 8 hex chars of md5, base-converted, / 2^32. */
  private def unitTwin(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("double") / lit(4294967296.0)

  private val modes = Seq(
    "CODEGEN_ONLY" -> Map(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false"),
    "NO_CODEGEN" -> Map(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  private def withConf[T](kv: Map[String, String])(body: => T): T = {
    val old = kv.keys.map(k => k -> spark.conf.getOption(k)).toMap
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Rows where the kernel and the twin disagree (null-safe). */
  private def mismatches(df: DataFrame, c: Column): Long =
    df.filter(!(Sampling.unitFromMd5(c) <=> unitTwin(c))).count()

  private val edgeStrings: Seq[String] = Seq(
    null, "", " ", "0", "42:0:1", "é", "naïve café", "日本語テキスト", "🙂🚀",
    "Ωmega\u0000nul", "𝄞 clef", "x" * 10000)

  for ((mode, conf) <- modes) {
    test(s"md5 unit: kernel == string twin on 1M generated strings [$mode]") {
      withConf(conf) {
        val gen = spark.range(0, 1000000, 1, 8).select(
          concat((col("id") % 13).cast("string"), lit(":"), (col("id") % 7).cast("string"),
            lit(":"), col("id").cast("string")).as("s"))
        assert(mismatches(gen, col("s")) === 0L)
        val r = gen.select(Sampling.unitFromMd5(col("s")).as("u"))
          .agg(min("u"), max("u"), avg("u"), count("u")).head()
        assert(r.getDouble(0) >= 0.0 && r.getDouble(1) < 1.0)
        assert(math.abs(r.getDouble(2) - 0.5) < 0.002 && r.getLong(3) == 1000000L)
        if (mode == "CODEGEN_ONLY") {
          val plan = gen.select(Sampling.unitFromMd5(col("s"))).queryExecution.executedPlan
          assert(plan.collectFirst { case w: WholeStageCodegenExec => w }
            .exists(_.child.toString.contains("md5_unit")),
            s"md5_unit is not inside whole-stage codegen:\n$plan")
        }
      }
    }

    test(s"md5 unit: null, empty, multi-byte UTF-8 and binary inputs [$mode]") {
      withConf(conf) {
        val strs = edgeStrings.toDF("s")
        assert(mismatches(strs, col("s")) === 0L)
        val got = strs.select(col("s"), Sampling.unitFromMd5(col("s")).as("u")).collect()
          .map(r => Option(r.getString(0)) -> r.get(1)).toMap
        assert(got(None) == null)
        // md5("") = d41d8cd9…
        assert(got(Some("")) == 0xd41d8cd9L.toDouble / 4294967296.0)
        // the driver-side helper is the same kernel on the same UTF-8 bytes
        val md = Md5Unit.newDigest()
        edgeStrings.filter(_ != null).foreach { s =>
          assert(got(Some(s)) == Md5Unit.unit(md, s), s)
        }

        val rnd = new scala.util.Random(3)
        val blobs: Seq[Array[Byte]] = Seq(null, Array.emptyByteArray, Array[Byte](0),
          Array[Byte](-1, -1, -1, -1), Array.tabulate[Byte](256)(_.toByte)) ++
          Seq.fill(500)(Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte))
        val bin = blobs.toDF("b")
        assert(bin.schema("b").dataType == org.apache.spark.sql.types.BinaryType)
        assert(mismatches(bin, col("b")) === 0L)
        val fromBin = bin.select(Md5Unit.md5Unit(col("b"))).collect().map(_.get(0))
        blobs.zip(fromBin).foreach {
          case (null, u) => assert(u == null)
          case (b, u) => assert(u == Md5Unit.unit(md, b))
        }
      }
    }
  }

  test("md5 unit: IdUnits(prefix)(id) == unit(prefix + id), edge and random ids") {
    val md = Md5Unit.newDigest()
    val r = new scala.util.Random(9)
    val ids = Seq(0L, 1L, -1L, 9L, 10L, -10L, 99L, 100L, Long.MaxValue, Long.MinValue,
      Long.MinValue + 1, Int.MaxValue.toLong + 1) ++ Seq.fill(20000)(r.nextLong() >> r.nextInt(64))
    for (prefix <- Seq("", "7:0:", "123456789:42:", "é:3:")) {
      val units = new Md5Unit.IdUnits(prefix)
      ids.foreach { id =>
        assert(java.lang.Double.doubleToRawLongBits(units(id)) ==
          java.lang.Double.doubleToRawLongBits(Md5Unit.unit(md, prefix + id)), s"'$prefix' + $id")
      }
    }
  }
}

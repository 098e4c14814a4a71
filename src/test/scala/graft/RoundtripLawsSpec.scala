package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

case class GenRow(id: Long, s: String, d: Double, flag: Boolean)

/** ScalaCheck-generated laws (SURVEY.md §5.3): sink roundtrips are
  * lossless for generated data (including CSV-hostile strings) and set
  * operations satisfy their algebra. Raw ScalaCheck generators with
  * fixed seeds (no scalatestplus bridge in the offline cache).
  */
class RoundtripLawsSpec extends SparkSpecBase {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // CSV-hostile but single-line strings (multiline CSV needs a reader
  // option; the engine's declared roundtrips use single-line records)
  private val hostileString: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(',', '"', '\'', ';', '|', ' ', 'é', '中')))
      .map(_.mkString.take(40))

  private val rowsGen: Gen[List[GenRow]] = for {
    n <- Gen.choose(1, 30)
    rows <- Gen.listOfN(n, for {
      id <- Gen.choose(0L, 1000000L)
      s <- hostileString
      d <- Gen.choose(-1e6, 1e6)
      b <- Gen.oneOf(true, false)
    } yield GenRow(id, s, d, b))
  } yield rows

  test("csv write/read roundtrip is lossless for hostile strings") {
    for (rows <- samples(rowsGen, 8)) {
      val df = spark.createDataFrame(rows)
      val path = scratchPath("law_csv")
      // whitespace trimming is ON by default in both the CSV writer and
      // reader — a lossless roundtrip must disable it on both sides
      df.write.option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false").csv(path)
      val back = spark.read.schema(df.schema).option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false").csv(path)
      assert(back.collect().map(_.toString).sorted.toSeq ==
        df.collect().map(_.toString).sorted.toSeq, s"failed for $rows")
    }
  }

  test("json write/read roundtrip is lossless") {
    for (rows <- samples(rowsGen, 8)) {
      val df = spark.createDataFrame(rows)
      val path = scratchPath("law_json")
      df.write.json(path)
      val back = spark.read.schema(df.schema).json(path)
      assert(back.collect().map(_.toString).sorted.toSeq ==
        df.collect().map(_.toString).sorted.toSeq, s"failed for $rows")
    }
  }

  test("malformed CSV rows land in _corrupt_record under PERMISSIVE, drop under DROPMALFORMED") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = scratchPath("csv_malformed")
    // 2 good rows, 1 type-corrupt, 1 arity-corrupt
    Seq("1,alpha,2.5", "2,beta,7.0", "3,gamma,not_a_number", "4,delta")
      .toDF("line").coalesce(1).write.text(dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType),
      StructField("_corrupt_record", StringType)))
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir).cache() // corrupt-record column cannot be queried alone without caching
    assert(permissive.count() == 4, "PERMISSIVE must keep every input row")
    assert(permissive.filter($"_corrupt_record".isNotNull).count() == 2,
      "both corrupt rows must be captured")
    assert(permissive.filter($"_corrupt_record".isNull && $"score".isNotNull).count() == 2,
      "good rows must parse fully")
    permissive.unpersist()
    val dropped = spark.read
      .schema(StructType(schema.fields.filter(_.name != "_corrupt_record")))
      .option("mode", "DROPMALFORMED").csv(dir)
    // count() alone would skip parsing (CSV column pruning) and see 4 rows;
    // materializing all columns forces the parse that drops malformed rows
    assert(dropped.collect().length == 2, "DROPMALFORMED must keep only the parseable rows")
  }

  test("set algebra: |A| == |A intersect B| + |A except B| on distinct sets") {
    import spark.implicits._
    val pairGen = for {
      xs <- Gen.listOf(Gen.choose(0, 50))
      ys <- Gen.listOf(Gen.choose(0, 50))
    } yield (xs, ys)
    for ((xs, ys) <- samples(pairGen, 10)) {
      val a = xs.toDF("v").distinct()
      val b = ys.toDF("v").distinct()
      assert(a.intersect(b).count() + a.except(b).count() == a.count())
      assert(a.union(b).distinct().count() == b.union(a).distinct().count())
    }
  }

  test("windowed moving sum equals explicit range self-join aggregate") {
    import spark.implicits._
    for (xs <- samples(Gen.nonEmptyListOf(Gen.choose(0, 100)), 8)) {
      val df = xs.distinct.sorted.zipWithIndex.map { case (v, i) => (i.toLong, v.toLong) }
        .toDF("pos", "v")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"pos").rowsBetween(-2, 0)
      val windowed = df.select($"pos", sum($"v").over(w).as("s"))
        .as[(Long, Long)].collect().toMap
      val joined = df.as("a").join(df.as("b"),
          $"b.pos".between($"a.pos" - 2, $"a.pos"))
        .groupBy($"a.pos").agg(sum($"b.v").as("s"))
        .as[(Long, Long)].collect().toMap
      assert(windowed == joined)
    }
  }
}

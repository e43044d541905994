package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.{Fixtures, SparkSpec}

/** The drift watchdog's driver-side key scan ([[BronzeReader.fieldNames]])
  * against the JSON source's full-scan inference: over every line shape
  * the source splits or quarantines in its own way, the scan must name
  * each field inference finds, or the watchdog misses drift. */
class BronzeFieldNamesSpec extends SparkSpec {

  private def r(i: Int, extra: String = ""): String =
    Fixtures.row(Fixtures.Base + 60 * i, s"U$i", s"D$i", 40.0 + i, extra)

  /** Each case is a file body; `*_only` keys appear in no other line, so
    * a name the scan wrongly keeps or drops shows in the diff. */
  private val cases: Seq[(String, String)] = Seq(
    // every 50th record cut short just after a key no whole line has
    "records cut on every 50th line" -> (1 to 200).map { i =>
      if (i % 50 != 0) r(i)
      else {
        val full = r(i, """, "cut_only": 1, "cut_rest": 2""")
        full.take(full.indexOf(", \"cut_rest\""))
      }
    }.mkString("\n"),
    "blank lines" -> Seq("", r(1), "   ", "", r(2, """, "blank_only": 2"""), "\t", "").mkString("\n"),
    "CRLF separators" -> Seq(r(1), r(2, """, "crlf_only": 1"""), r(3)).mkString("\r\n"),
    "lone-CR separators" -> Seq(r(1), r(2, """, "cr_only": 1"""), r(3)).mkString("\r"),
    "a top-level array of objects" ->
      Seq(r(1), """[{"arr_a": 1}, {"arr_b": "x", "unitno": "U9"}]""").mkString("\n"),
    "nested objects" -> Seq(
      r(1, """, "nested_only": {"inner_a": 1, "inner_b": {"deep": [1, {"deeper": 2}]}}"""),
      r(2, """, "list_only": [{"in_list": 1}]""")).mkString("\n"),
    "single-quoted names" -> Seq(r(1), """{'sq_only': 'v', "heartbeat": 1}""").mkString("\n"),
    "NaN" -> Seq(r(1), """{"nan_only": NaN, "heartbeat": 1}""").mkString("\n"),
    "leading-zero numbers (corrupt)" -> Seq(r(1), """{"lz_only": 007, "heartbeat": 1}""").mkString("\n"),
    "an object followed by trailing text" ->
      Seq(r(1), """{"tail_only": 1} and then some text""").mkString("\n"))

  /** The key whose values are all `{}`: inference drops it, the scan keeps it. */
  private val emptyObjectCase = Seq(r(1), r(2, """, "empty_obj": {}""")).mkString("\n")

  private def write(path: String, body: String): String = {
    val f = new File(path)
    if (path.endsWith(".gz")) Fixtures.writeGz(path, Seq(body))
    else {
      f.getParentFile.mkdirs()
      Files.write(f.toPath, body.getBytes(StandardCharsets.UTF_8))
      f.toURI.toString
    }
  }

  private def inferred(path: String): Set[String] =
    BronzeReader.read(spark, Seq(path)).schema.fieldNames.toSet -
      BronzeReader.CorruptCol - "source_file"

  cases.foreach { case (name, body) =>
    test(s"fieldNames matches inference: $name") {
      val path = write(s"${tmpDir("fn")}/2024010100.txt.gz", body)
      assert(BronzeReader.fieldNames(spark, path) == inferred(path))
    }
  }

  test("fieldNames matches inference over the whole matrix, plain and gzipped") {
    val body = cases.map(_._2).mkString("\n")
    val dir = tmpDir("fn-all")
    Seq(s"$dir/2024010100.txt", s"$dir/2024010100.txt.gz").map(write(_, body)).foreach { path =>
      val names = BronzeReader.fieldNames(spark, path)
      assert(names == inferred(path), path)
      // the fixtures really exercise both sides of the diff
      assert(Set("cr_only", "crlf_only", "arr_a", "arr_b", "sq_only", "nan_only", "tail_only")
        .subsetOf(names))
      assert(Set("cut_only", "lz_only", "inner_a", "in_list").intersect(names).isEmpty)
    }
  }

  test("the one extra name: a key whose values are all empty objects") {
    val path = write(s"${tmpDir("fn-empty")}/2024010100.txt.gz", emptyObjectCase)
    val names = BronzeReader.fieldNames(spark, path)
    val schema = inferred(path)
    assert(schema.subsetOf(names))
    assert(names -- schema == Set("empty_obj"))
  }

  test("zero-byte files have no names, as the JSON source skips them") {
    val dir = tmpDir("fn-zero")
    Seq(s"$dir/2024010100.txt", s"$dir/2024010100.txt.gz").foreach { path =>
      val f = new File(path)
      f.getParentFile.mkdirs()
      assert(f.createNewFile())
      assert(BronzeReader.fieldNames(spark, f.toURI.toString).isEmpty, path)
      assert(scala.util.Try(inferred(f.toURI.toString)).toOption.forall(_.isEmpty), path)
    }
  }

  test("fieldNames starts no Spark job") {
    val path = write(s"${tmpDir("fn-jobs")}/2024010100.txt.gz", cases.head._2)
    assert(countJobs(BronzeReader.fieldNames(spark, path)) == 0)
  }
}

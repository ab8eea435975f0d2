package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PipelineQueries
import graft.sources.DatasetCard

/** The dataset card must be (a) byte-deterministic — the committed
  * sf0.01 sample pins the exact rendering, the LatexReportSpec
  * discipline — and (b) UNABLE to disagree with the audits it renders:
  * the split table's numbers are cross-checked against p5f's own
  * output rows.
  */
class DatasetCardSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.01"
  private lazy val card = DatasetCard.render(spark, dir)

  private def f6(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))

  test("committed sample matches a fresh render byte-exactly") {
    val committed = java.nio.file.Files.readString(
      java.nio.file.Paths.get("results/dataset_card_sf001.md"))
    assert(committed == card,
      "results/dataset_card_sf001.md is stale — regenerate via `Test/runMain graft.Regen card`")
  }

  test("sections present in fixed order") {
    val idx = Seq("# Dataset card", "## Split statistics",
      "## Changes since previous version", "## Domain mix",
      "## Benchmark clearance", "## Split-leakage audit",
      "## Tokenizer fertility", "## Decontamination gram profile",
      "## Content manifest")
      .map(card.indexOf)
    assert(idx.forall(_ >= 0) && idx == idx.sorted, s"section order broke: $idx")
  }

  test("changelog rows equal p11's own output (r20)") {
    val want = SparkEntry.queries("p11_release_changelog")(spark, dir)
      .collect().map { r =>
        s"| ${r.getString(0)} | ${r.getString(1)} | ${r.getString(2)} | " +
          s"${r.getLong(3)} | ${r.getLong(4)} |"
      }
    assert(want.nonEmpty)
    want.foreach(line => assert(card.contains(line), s"missing row: $line"))
    // every status class is live on the sf0.01 scaffold — the section
    // is not a vacuous table
    for (status <- Seq("added", "removed", "changed", "unchanged"))
      assert(want.exists(_.contains(s"| $status |")), s"no '$status' row")
  }

  test("fertility rows equal t26f's own output") {
    val want = SparkEntry.queries("t26f_fertility_from_release")(spark, dir)
      .collect().map { r =>
        s"| ${r.getString(0)} | ${r.getLong(1)} | ${r.getLong(2)} | " +
          s"${r.getLong(3)} | ${f6(r.getDouble(5))} | ${f6(r.getDouble(6))} | " +
          s"${f6(r.getDouble(7))} |"
      }
    assert(want.nonEmpty)
    want.foreach(line => assert(card.contains(line), s"missing row: $line"))
  }

  test("gram-profile rows equal x5f's own output") {
    val want = SparkEntry.queries("x5f_decon_profile_from_release")(spark, dir)
      .collect().map { r =>
        val rate = if (r.isNullAt(4)) "n/a" else f6(r.getDouble(4))
        s"| ${r.getLong(0)} | ${r.getLong(1)} | ${r.getLong(2)} | " +
          s"${r.getLong(3)} | $rate |"
      }
    assert(want.length == 3)
    want.foreach(line => assert(card.contains(line), s"missing row: $line"))
  }

  test("split table rows equal p5f's own output") {
    val want = SparkEntry.queries("p5f_report_from_release")(spark, dir)
      .collect().map { r =>
        s"| ${r.getString(0)} | ${r.getLong(1)} | ${r.getLong(2)} | " +
          // Locale.ROOT like the card itself — the f-interpolator uses
          // the JVM default locale and fails spuriously under comma-
          // decimal locales (r17 advice fix)
          s"${f6(r.getDouble(3))} | ${r.getLong(4)} | ${r.getString(5)} | " +
          s"${f6(r.getDouble(6))} |"
      }
    want.foreach(line => assert(card.contains(line), s"missing row: $line"))
  }

  test("clearance rows render every benchmark x split cell") {
    val n = SparkEntry.queries("x4f_clearance_from_release")(spark, dir).count()
    val section = card.substring(card.indexOf("## Benchmark clearance"),
      card.indexOf("## Split-leakage audit"))
    assert(section.linesIterator.count(_.startsWith("| bench_")) == n)
  }

  // ---- machine-readable face (r19) ------------------------------------

  private lazy val cardJson = DatasetCard.renderJson(spark, dir)

  test("committed JSON sample matches a fresh render byte-exactly") {
    val committed = java.nio.file.Files.readString(
      java.nio.file.Paths.get("results/dataset_card_sf001.json"))
    assert(committed == cardJson,
      "results/dataset_card_sf001.json is stale — regenerate via `Test/runMain graft.Regen card`")
  }

  test("JSON states exactly the markdown tables' numbers (shared CardData, field for field)") {
    // a real parse, not string matching: the artifact's promise is that
    // a governance consumer can json-load it
    val m = org.json4s.jackson.JsonMethods.parse(cardJson)
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    assert((m \ "schema").extract[String] == "graft-dataset-card-v2")
    // split statistics ≡ the markdown split table rows
    val stats = (m \ "split_statistics").extract[Seq[Map[String, JValue]]]
    val mdRows = stats.map { row =>
      s"| ${row("split").extract[String]} | ${row("documents").extract[Long]} | " +
        s"${row("tokens").extract[Long]} | ${f6(row("mean_quality").extract[Double])} | " +
        s"${row("languages").extract[Long]} | ${row("top_language").extract[String]} | " +
        s"${f6(row("top_share").extract[Double])} |"
    }
    assert(mdRows.nonEmpty)
    mdRows.foreach(line => assert(card.contains(line),
      s"JSON row has no byte-identical markdown twin: $line"))
    // changelog rows ≡ the markdown section rows (r20)
    val chg = (m \ "changes_since_previous").extract[Seq[Map[String, JValue]]]
    assert(chg.nonEmpty)
    chg.foreach { row =>
      val line = s"| ${row("source").extract[String]} | " +
        s"${row("split").extract[String]} | ${row("status").extract[String]} | " +
        s"${row("documents").extract[Long]} | ${row("min_doc_id").extract[Long]} |"
      assert(card.contains(line),
        s"JSON changelog row has no byte-identical markdown twin: $line")
    }
    // section row counts line up across the two faces
    def mdCount(section: String, until: String) = {
      val s0 = card.substring(card.indexOf(section), card.indexOf(until))
      s0.linesIterator.count(l => l.startsWith("| ") && !l.startsWith("| split") &&
        !l.startsWith("| benchmark") && !l.startsWith("| language") &&
        !l.startsWith("| n |") && !l.startsWith("|---"))
    }
    assert((m \ "benchmark_clearance").extract[Seq[JValue]].size ==
      mdCount("## Benchmark clearance", "## Split-leakage audit"))
    assert((m \ "tokenizer_fertility").extract[Seq[JValue]].size ==
      mdCount("## Tokenizer fertility", "## Decontamination gram profile"))
    assert((m \ "decontamination_gram_profile").extract[Seq[JValue]].size ==
      mdCount("## Decontamination gram profile", "## Content manifest"))
    // manifest summary ≡ the markdown's closing sentence
    val man = (m \ "content_manifest").extract[Map[String, Long]]
    assert(card.contains(s"${man("manifest_rows")} (split, bucket) manifest rows; " +
      s"${man("documents")} documents, ${man("total_chars")} chars total."))
  }
}

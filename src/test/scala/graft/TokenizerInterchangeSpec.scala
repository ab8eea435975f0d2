package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{MergeTable, SubwordExpressions}
import graft.operators.SubwordQueries
import graft.sources.TokenizerInterchange

/** r17 queue #3: the stored t22 merge table must survive the public
  * tokenizers-JSON round trip byte-exactly IN SEMANTICS — export →
  * import → identical rank-ordered rules → identical merge-order
  * encode (BpeMergeStats parity) — so the t22/t13c/c11 billing chain
  * is consumable by a real trainer loading the emitted tokenizer.json.
  * The committed sample (`results/tokenizer_bpe.json`) is pinned
  * against a fresh export of the sf0.01 snapshot's stored table.
  */
class TokenizerInterchangeSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.01"

  test("export → import reproduces the stored merge table rule-for-rule") {
    val stored = SubwordQueries.storedMerges(spark, dir)
    assert(stored.nonEmpty)
    val back = TokenizerInterchange.importJson(
      TokenizerInterchange.exportJson(stored))
    assert(back.toSeq == stored.toSeq)
  }

  test("imported table encodes identically (BpeMergeStats parity on a fixture)") {
    import spark.implicits._
    val stored = SubwordQueries.storedMerges(spark, dir)
    val imported = TokenizerInterchange.importJson(
      TokenizerInterchange.exportJson(stored))
    // boundary-ambiguous words are where merge ORDER matters — a
    // rank-shuffling round trip would diverge exactly here
    val fixture = Seq("the theory of everything", "thththth ththe",
      "a ab abc abcd", "Zebra zzz", "").toDF("text")
    def statsWith(t: MergeTable) = fixture
      .select(SubwordExpressions.bpeMergeStats(split(col("text"), " "), t)
        .as("s"))
      .select(col("s.n_tokens_merge"), col("s.merge_digest"))
      .collect().toSeq.map(_.toString)
    assert(statsWith(new MergeTable(imported)) ==
      statsWith(new MergeTable(stored)))
  }

  test("vocab covers the base alphabet and every merged piece, ids dense from 0") {
    val json = TokenizerInterchange.exportJson(
      Array(("t", "h"), ("th", "e"), ("a", "b")))
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val vocab = root.path("model").path("vocab")
    // alphabet {a,b,e,h,t} sorted → ids 0..4, then th=5, the=6, ab=7
    assert(vocab.path("a").asInt == 0 && vocab.path("t").asInt == 4)
    assert(vocab.path("th").asInt == 5 && vocab.path("the").asInt == 6 &&
      vocab.path("ab").asInt == 7)
    assert(root.path("model").path("merges").get(0).asText == "t h")
  }

  test("accepts the v0.20+ pair-form merges a newer library emits") {
    val json = """{"model":{"type":"BPE","vocab":{},
      "merges":[["t","h"],["th","e"]]}}"""
    assert(TokenizerInterchange.importJson(json).toSeq ==
      Seq(("t", "h"), ("th", "e")))
  }

  test("supplementary (non-BMP) codepoints survive as whole vocab keys, round-trip intact") {
    // an astral char split by toCharArray would emit two lone
    // surrogates as vocab keys (r17 review finding) — the alphabet
    // must carry the whole codepoint and the merges must round-trip
    val astral = Array(("😀", "x"), ("a", "b")) // 😀 + x
    val json = TokenizerInterchange.exportJson(astral)
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val vocab = root.path("model").path("vocab")
    assert(vocab.has("😀"), "whole emoji codepoint must be a vocab key")
    val it = vocab.fieldNames()
    while (it.hasNext) {
      val k = it.next()
      assert(!(k.length == 1 && Character.isSurrogate(k.charAt(0))),
        s"lone surrogate vocab key: ${k.codePointAt(0)}")
    }
    assert(TokenizerInterchange.importJson(json).toSeq == astral.toSeq)
  }

  test("loud failures: space-carrying piece, non-BPE model") {
    intercept[IllegalArgumentException] {
      TokenizerInterchange.exportJson(Array(("a b", "c")))
    }
    intercept[IllegalArgumentException] {
      TokenizerInterchange.importJson("""{"model":{"type":"WordPiece","merges":[]}}""")
    }
  }

  test("committed sample file matches a fresh export of the stored table") {
    val committed = java.nio.file.Files.readString(
      java.nio.file.Paths.get("results/tokenizer_bpe.json"))
    assert(committed ==
      TokenizerInterchange.exportJson(SubwordQueries.storedMerges(spark, dir)),
      "results/tokenizer_bpe.json is stale — regenerate via " +
        "TokenizerInterchange.writeTokenizerJson(spark, sf0.01, ...)")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Source-boundary contract net (r11 regression): the driver regenerates
  * the testdata between rounds and has shipped `events.ts` as both
  * parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS)/NTZ. Every downstream
  * consumer (q20/q21, streaming ingest, the DuckDB oracles via
  * `epoch_ns`) assumes the normalized contract: ts = nanos-since-epoch
  * LONG, UTC instants. r11's bench shipped q20/q21 as -1 because the
  * encoding flipped and the read was not normalized — this spec fails
  * loudly at `sbt test` time instead.
  */
class TablesContractSpec extends AnyFunSuite with SparkTestSession {

  test("events.ts normalizes to nanos-since-epoch LONG at every sf") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val ev = sources.Tables.events(spark, s"/root/testdata/$sf")
      assert(ev.schema("ts").dataType == LongType, s"$sf ts type")
      val r = ev.agg(min(col("ts")), max(col("ts"))).head()
      // the generator writes 2024+ wall clocks; a micros/nanos mix-up is
      // off by 1000x and lands outside [2020, 2100]
      val lo = 1577836800L * 1000000000L // 2020-01-01 in nanos
      val hi = 4102444800L * 1000000000L // 2100-01-01 in nanos
      assert(r.getLong(0) >= lo && r.getLong(1) <= hi,
        s"$sf ts range [${r.getLong(0)}, ${r.getLong(1)}] not nanos-since-epoch")
    }
  }

  test("embeddings.embedding normalizes to array<float> (v-family kernel contract)") {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val e = sources.Tables.embeddings(spark, s"/root/testdata/$sf")
      assert(e.schema("embedding").dataType == ArrayType(FloatType, containsNull = true)
        || e.schema("embedding").dataType == ArrayType(FloatType, containsNull = false),
        s"$sf embedding type ${e.schema("embedding").dataType}")
    }
  }

  test("events consumers resolve end-to-end on the current encoding") {
    val dir = "/root/testdata/sf0.001"
    for (q <- Seq("q20_sessionize", "q21_asof_join"))
      assert(SparkEntry.queries(q)(spark, dir).count() > 0L, q)
  }

  test("events() interprets NTZ values as UTC and leaves the session timezone untouched") {
    val dir = "/root/testdata/sf0.001"
    val key = "spark.sql.session.timeZone"
    // make the ambient zone NON-UTC so a leaked mutation or a cast that
    // resolved against the session zone both fail loudly
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "America/New_York")
    try {
      val got = sources.Tables.events(spark, dir)
        .orderBy("event_id").select("ts").limit(3)
        .collect().map(_.getLong(0)).toSeq
      assert(spark.conf.get(key) == "America/New_York",
        "events() left a session-timezone mutation behind")
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case LongType => () // nanos encoding: nothing zone-sensitive to check
        case _ =>
          // reference: the raw NTZ wall-clock interpreted as a UTC instant
          val want = raw.orderBy("event_id").select("ts").limit(3).collect()
            .map(_.getAs[java.time.LocalDateTime]("ts")
              .toInstant(java.time.ZoneOffset.UTC))
            .map(i => i.getEpochSecond * 1000000000L + i.getNano).toSeq
          assert(got == want,
            s"NTZ->nanos conversion is session-zone-dependent: $got vs $want")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("documentsJsonl round-trips the documents contract and derives a missing n_chars") {
    val dir = tempDir("graft_jsonl")
    val src = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    // full-contract round trip: parquet corpus -> jsonl -> ingest
    src.coalesce(1).write.mode("overwrite").json(s"$dir/full")
    val back = graft.sources.Tables.documentsJsonl(spark, s"$dir/full")
    assert(back.schema.fieldNames.sorted.toSeq ==
      Seq("doc_id", "lang", "n_chars", "source", "text"))
    val a = src.orderBy("doc_id").collect().map(_.toString).toSeq
    val b = back.select(src.columns.map(col): _*).orderBy("doc_id")
      .collect().map(_.toString).toSeq
    assert(a == b, "jsonl ingest must reproduce the parquet corpus row-for-row")
    // raw corpora rarely carry n_chars: it must be derived as length(text)
    src.drop("n_chars").coalesce(1).write.mode("overwrite").json(s"$dir/raw")
    val derived = graft.sources.Tables.documentsJsonl(spark, s"$dir/raw")
    assert(derived.filter(col("n_chars") =!= length(col("text")).cast(LongType))
      .count() == 0L)
  }

  test("documentsJsonl fails loudly on a malformed line instead of decoding null rows") {
    val dir = tempDir("graft_jsonl_bad")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/part.jsonl"),
      """{"doc_id": 1, "text": "fine", "lang": "en", "source": "s"}
        |{"doc_id": 2, "text": "truncated""".stripMargin)
    val ex = intercept[Exception] {
      graft.sources.Tables.documentsJsonl(spark, dir).count()
    }
    // FAILFAST surfaces the decode failure; PERMISSIVE would have
    // yielded a silent all-null row flowing null doc_ids downstream
    assert(ex.getMessage != null)
  }

  test("documentsJsonl fails loudly on a WELL-FORMED line missing a required key") {
    // FAILFAST cannot catch these — the line parses fine and decodes a
    // null key; the per-row raise_error guard must fire instead. The
    // consuming action is collect(), not count(): a bare count prunes
    // every column including the guard (the documented honest-scope
    // caveat — guards fire where the guarded column is read)
    val dir = tempDir("graft_jsonl_key")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/part.jsonl"),
      """{"doc_id": 1, "text": "fine", "lang": "en", "source": "s"}
        |{"text": "no id here", "lang": "en", "source": "s"}""".stripMargin)
    val exId = intercept[Exception] {
      graft.sources.Tables.documentsJsonl(spark, dir).select("doc_id").collect()
    }
    assert(String.valueOf(exId.getMessage).contains("doc_id") ||
      String.valueOf(exId.getCause).contains("doc_id"))
    val dir2 = tempDir("graft_jsonl_key2")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir2/part.jsonl"),
      """{"doc_id": 1, "lang": "en", "source": "s"}""")
    val exText = intercept[Exception] {
      graft.sources.Tables.documentsJsonl(spark, dir2).select("doc_id", "text").collect()
    }
    assert(String.valueOf(exText.getMessage).contains("text") ||
      String.valueOf(exText.getCause).contains("text"))
    // an explicit null is the same violation as a missing key
    val dir3 = tempDir("graft_jsonl_key3")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir3/part.jsonl"),
      """{"doc_id": null, "text": "x", "lang": "en", "source": "s"}""")
    intercept[Exception] {
      graft.sources.Tables.documentsJsonl(spark, dir3).select("doc_id").collect()
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IndexStore

/** Build-once-then-reuse contract of the persistent index store: the
  * meta stamp gates rebuilds (params + source fingerprint), a crashed
  * build is retried (never trusted), and the source stamp actually
  * moves when the source data changes.
  */
class IndexStoreSpec extends AnyFunSuite with SparkTestSession {

  test("build runs once per meta; a changed meta rebuilds; same meta reuses") {
    val path = tempDir("graft_idx_spec") + "/idx"
    var builds = 0
    IndexStore.ensure(spark, path, "meta_v1") { builds += 1 }
    IndexStore.ensure(spark, path, "meta_v1") { builds += 1 }
    assert(builds == 1, "second ensure with identical meta must skip the build")
    IndexStore.ensure(spark, path, "meta_v2") { builds += 1 }
    assert(builds == 2, "a changed meta (new params/snapshot) must rebuild")
    // and the new stamp is now current
    IndexStore.ensure(spark, path, "meta_v2") { builds += 1 }
    assert(builds == 2)
    // alternating BACK to the old meta must rebuild again — the in-JVM
    // fast path tracks the LAST verified meta per path, never a set of
    // ever-seen metas (which would serve the v2 tables to a v1 caller)
    IndexStore.ensure(spark, path, "meta_v1") { builds += 1 }
    assert(builds == 3, "returning to an older meta must rebuild, not serve stale tables")
  }

  test("a crashed build leaves no stamp and is retried, never trusted") {
    val path = tempDir("graft_idx_spec") + "/idx"
    var attempts = 0
    intercept[RuntimeException] {
      IndexStore.ensure(spark, path, "meta") {
        attempts += 1; throw new RuntimeException("simulated build crash")
      }
    }
    IndexStore.ensure(spark, path, "meta") { attempts += 1 }
    assert(attempts == 2, "the retry after a crash must re-run the build")
    IndexStore.ensure(spark, path, "meta") { attempts += 1 }
    assert(attempts == 2, "the successful build is then reused")
  }

  test("a waiter adopts the other builder's meta stamp without building") {
    val path = tempDir("graft_idx_spec") + "/idx"
    // simulate another JVM holding the lock: pre-create it, then stamp
    // the meta from a helper thread while ensure() is waiting
    val dir = new java.io.File(path); dir.mkdirs()
    val lock = new java.io.File(dir, "_graft_build_lock"); lock.createNewFile()
    val metaFile = new java.io.File(dir, "_graft_meta")
    val stamper = new Thread(() => {
      Thread.sleep(300)
      java.nio.file.Files.writeString(metaFile.toPath, "other_builders_meta")
    })
    stamper.start()
    var built = false
    IndexStore.ensure(spark, path, "other_builders_meta",
      lockStaleMs = 60000, lockWaitMs = 10000, lockPollMs = 50) { built = true }
    stamper.join()
    assert(!built, "the waiter must adopt the other builder's stamp, not rebuild")
    lock.delete()
  }

  test("a live lock outlasting the wait deadline fails loudly instead of a concurrent takeover") {
    val path = tempDir("graft_idx_spec") + "/idx"
    val dir = new java.io.File(path); dir.mkdirs()
    new java.io.File(dir, "_graft_build_lock").createNewFile() // fresh, never released
    var built = false
    val ex = intercept[IllegalStateException] {
      IndexStore.ensure(spark, path, "meta",
        lockStaleMs = 60000, lockWaitMs = 300, lockPollMs = 50) { built = true }
    }
    assert(ex.getMessage.contains("live index build lock"))
    assert(!built, "must never run a second overwrite build beside a live lock")
  }

  test("a stale lock (crashed builder) is broken and the build proceeds") {
    val path = tempDir("graft_idx_spec") + "/idx"
    val dir = new java.io.File(path); dir.mkdirs()
    val lock = new java.io.File(dir, "_graft_build_lock")
    lock.createNewFile()
    lock.setLastModified(System.currentTimeMillis() - 60000) // long-dead holder
    var built = false
    IndexStore.ensure(spark, path, "meta",
      lockStaleMs = 1000, lockWaitMs = 5000, lockPollMs = 50) { built = true }
    assert(built, "a stale lock must be broken, not waited on forever")
    assert(!lock.exists(), "the takeover build must release the lock")
  }

  test("a waiter recovers when the holder's build fails and deletes the lock without stamping") {
    val path = tempDir("graft_idx_spec") + "/idx"
    val dir = new java.io.File(path); dir.mkdirs()
    val lock = new java.io.File(dir, "_graft_build_lock")
    lock.createNewFile() // another JVM is building...
    // ...and its build THROWS 300ms in: the finally releases the lock
    // but no meta is ever stamped. The waiter sees lock ABSENT + meta
    // stale — it must acquire the free lock and rebuild, not poll out
    // the full wait budget and throw (ADVICE r9: rename of the
    // nonexistent lock fails, and tryLock was only reachable after a
    // verified rename)
    new Thread(() => { Thread.sleep(300); lock.delete() }).start()
    var built = false
    IndexStore.ensure(spark, path, "meta_after_failed_holder",
      lockStaleMs = 60000, lockWaitMs = 3000, lockPollMs = 50) { built = true }
    assert(built, "the waiter must acquire the freed lock and rebuild after the holder's failed build")
    assert(!lock.exists(), "the recovery build must release its lock")
  }

  test("sourceStamp moves when the source file changes") {
    val f = java.nio.file.Paths.get(tempDir("graft_idx_spec"), "src.parquet")
    java.nio.file.Files.writeString(f, "aaaa")
    val s1 = IndexStore.sourceStamp(spark, f.toString)
    assert(s1.contains("len=4"))
    java.nio.file.Files.writeString(f, "aaaabb") // longer -> new stamp
    val s2 = IndexStore.sourceStamp(spark, f.toString)
    assert(s1 != s2, "a changed source must produce a different stamp")
    assert(IndexStore.sourceStamp(spark, f.toString + ".missing") == "absent")
  }

  test("sourceStamp handles empty dirs and sees nested (partitioned) leaf rewrites") {
    val d = java.nio.file.Paths.get(tempDir("graft_idx_spec"), "part.parquet")
    java.nio.file.Files.createDirectories(d)
    assert(IndexStore.sourceStamp(spark, d.toString) == "empty",
      "an existing-but-empty source dir must stamp, not throw")
    // partitioned layout: leaf files live under key=value subdirectories
    val leafDir = d.resolve("lang=en"); java.nio.file.Files.createDirectories(leafDir)
    val leaf = leafDir.resolve("part-00000.parquet")
    java.nio.file.Files.writeString(leaf, "aaaa")
    val s1 = IndexStore.sourceStamp(spark, d.toString)
    assert(s1.startsWith("n=1|"), s"recursive listing must count leaf files, got $s1")
    // in-place rewrite of the leaf: same top-level entries, same total
    // bytes — only the leaf mtime moves, and only a recursive listing
    // (not the top-level one) can see it
    Thread.sleep(1100) // mtime granularity on some filesystems is 1s
    java.nio.file.Files.writeString(leaf, "bbbb")
    val s2 = IndexStore.sourceStamp(spark, d.toString)
    assert(s1 != s2, "a rewritten nested leaf file must change the stamp")
  }

  test("sourceStamp's per-file digest sees changes the aggregate totals miss") {
    val d = java.nio.file.Paths.get(tempDir("graft_idx_spec"), "agg.parquet")
    java.nio.file.Files.createDirectories(d)
    val a = d.resolve("part-0.parquet"); val b = d.resolve("part-1.parquet")
    // pin every mtime to a constant so ONLY the per-file digest can
    // tell the before/after apart — n, total len and max mtime all hold
    val t = 1700000000000L
    java.nio.file.Files.writeString(a, "aaaa")
    java.nio.file.Files.writeString(b, "bb")
    a.toFile.setLastModified(t); b.toFile.setLastModified(t)
    val s1 = IndexStore.sourceStamp(spark, d.toString)
    // redistribute bytes between the parts: same file count, same total
    java.nio.file.Files.writeString(a, "aa")
    java.nio.file.Files.writeString(b, "bbbb")
    a.toFile.setLastModified(t); b.toFile.setLastModified(t)
    val s2 = IndexStore.sourceStamp(spark, d.toString)
    assert(s1 != s2, "redistributed per-file lengths must change the stamp")
    // rename a part under pinned mtimes: n, len and max mtime all hold
    val s3 = IndexStore.sourceStamp(spark, d.toString)
    java.nio.file.Files.move(b, d.resolve("part-renamed.parquet"))
    d.resolve("part-renamed.parquet").toFile.setLastModified(t)
    val s4 = IndexStore.sourceStamp(spark, d.toString)
    assert(s3 != s4, "a renamed part file must change the stamp")
  }

  test("the holder's heartbeat keeps a long build's lock fresh (slow != crashed)") {
    val path = tempDir("graft_idx_spec") + "/idx"
    val lock = new java.io.File(path, "_graft_build_lock")
    // staleMs=600 -> heartbeat period max(50, 200)=200ms; the build runs
    // 1500ms (2.5x the stale window). Without the heartbeat the lock's
    // age at the end of the build would be ~1500ms >> staleMs and any
    // waiter would break the LIVE lock; with it the age stays < staleMs.
    var ageAtEnd = Long.MaxValue
    IndexStore.ensure(spark, path, "meta_hb",
      lockStaleMs = 600, lockWaitMs = 5000, lockPollMs = 50) {
      Thread.sleep(1500)
      ageAtEnd = System.currentTimeMillis() - lock.lastModified()
    }
    assert(ageAtEnd < 600,
      s"heartbeat must keep the lock fresher than the stale window; age was ${ageAtEnd}ms")
    assert(!lock.exists(), "the owner must release its lock after the build")
  }

  test("a successful build sweeps tombstone litter from crashed breakers") {
    val path = tempDir("graft_idx_spec") + "/idx"
    val dir = new java.io.File(path); dir.mkdirs()
    val litter = new java.io.File(dir, "_graft_build_lock.broken.deadbeef")
    litter.createNewFile()
    IndexStore.ensure(spark, path, "meta_sweep") { () }
    assert(!litter.exists(), "the lock winner must sweep crashed breakers' tombstones")
  }

  test("compactTable splits a hot partition value across multiple writer files") {
    val idx = tempDir("graft_idx_spec") + "/idx"
    import spark.implicits._
    // one hot partition value: without a salt in the shuffle key the
    // whole value lands in ONE task and the filesPerTable knob is a
    // no-op (exactly one file per value)
    (0L until 2000L).map(i => (0, i)).toDF("part", "x")
      .repartition(4).write.partitionBy("part").parquet(s"$idx/tbl")
    // AQE coalesces this test's tiny (KB-sized) shuffle back into one
    // partition, hiding the split; at index scale the salted partitions
    // exceed the advisory size and stay apart. Disable it to observe
    // the salt (production keeps AQE: it merging genuinely tiny outputs
    // is the desired behavior, the salt matters for values too big for
    // one file).
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try IndexStore.compactTable(spark, idx, "tbl", Some("part"), filesPerTable = 8)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val files = walk(new java.io.File(IndexStore.tableDataPath(spark, idx, "tbl")))
      .count(_.getName.endsWith(".parquet"))
    assert(files >= 2, s"hot value must split across writer files, got $files")
    assert(IndexStore.readSwappable(spark, idx, "tbl").count() == 2000,
      "compaction must not change contents")
  }

  test("versioned publication: old version survives one compaction (lag-one), legacy dir retires at the second") {
    import spark.implicits._
    val idx = tempDir("graft_idx_spec") + "/idx"
    (0L until 100L).toDF("x").repartition(4).write.parquet(s"$idx/tbl")
    IndexStore.compactTable(spark, idx, "tbl", None, filesPerTable = 1)
    // publish #1: data now in tbl__v1; the legacy dir is RETAINED so a
    // reader that resolved it just before the publish keeps its files
    assert(new java.io.File(s"$idx/tbl__v1.__commit").exists(), "missing commit marker")
    assert(new java.io.File(s"$idx/tbl").exists(), "lag-one retention must keep the prior version")
    assert(IndexStore.tableDataPath(spark, idx, "tbl").endsWith("tbl__v1"))
    IndexStore.compactTable(spark, idx, "tbl", None, filesPerTable = 1)
    // publish #2 retires the legacy dir; v1 is now the lag-one copy
    assert(!new java.io.File(s"$idx/tbl").exists(), "legacy dir must retire at the second publish")
    assert(new java.io.File(s"$idx/tbl__v1").exists())
    IndexStore.compactTable(spark, idx, "tbl", None, filesPerTable = 1)
    assert(!new java.io.File(s"$idx/tbl__v1").exists(), "versions beyond lag-one must be deleted")
    assert(!new java.io.File(s"$idx/tbl__v1.__commit").exists())
    assert(IndexStore.readSwappable(spark, idx, "tbl").count() == 100,
      "contents must survive every publish")
  }

  test("a crash BEFORE the commit marker leaves the previous version current and is swept") {
    import spark.implicits._
    val idx = tempDir("graft_idx_spec") + "/idx"
    (0L until 50L).toDF("x").write.parquet(s"$idx/tbl")
    // a writer that crashed after writing its version dir but before the
    // marker create: garbage data in tbl__v1, NO tbl__v1.__commit
    (0L until 3L).toDF("garbage").write.parquet(s"$idx/tbl__v1")
    assert(IndexStore.readSwappable(spark, idx, "tbl").count() == 50,
      "readers must keep serving the committed state, never the unpublished dir")
    // the next rewrite sweeps the garbage and publishes cleanly
    IndexStore.compactTable(spark, idx, "tbl", None, filesPerTable = 1)
    val live = IndexStore.readSwappable(spark, idx, "tbl")
    assert(live.count() == 50 && live.columns.toSeq == Seq("x"),
      "the recovered publish must carry the committed contents")
  }

  test("losing the stale-lock takeover race re-enters the wait, never builds locklessly") {
    val path = tempDir("graft_idx_spec") + "/idx"
    val dir = new java.io.File(path); dir.mkdirs()
    val lock = new java.io.File(dir, "_graft_build_lock")
    lock.createNewFile()
    lock.setLastModified(System.currentTimeMillis() - 60000) // crashed holder
    val metaFile = new java.io.File(dir, "_graft_meta")
    var raced = false
    var built = false
    // the rival breaker wins the re-create race (injected between our
    // delete and our tryLock), then stamps its finished meta 300ms later
    val onBroken = () => if (!raced) {
      raced = true
      lock.createNewFile() // rival's FRESH lock — we must wait on it
      new Thread(() => {
        Thread.sleep(300)
        java.nio.file.Files.writeString(metaFile.toPath, "rivals_meta")
        lock.delete()
      }).start()
    }
    IndexStore.ensure(spark, path, "rivals_meta",
      lockStaleMs = 60000, lockWaitMs = 10000, lockPollMs = 50, onBroken) { built = true }
    assert(raced, "the injected race must have fired")
    assert(!built,
      "after losing the takeover race the loser must wait and adopt the rival's stamp, not build")
  }

  // ---- crash contract, parameterized over ALL THREE swappable-index
  // families (dedup MinHash tables, PQ codes, sketch months): every
  // probe path must survive (a) the PRE-VERSIONING legacy crash state
  // (data only under `__old`, live dir absent — healed on read), (b) a
  // family compaction (results pinned equal), and (c) a versioned-era
  // crash BEFORE the commit marker (unpublished garbage version dir —
  // ignored by readers, swept by the next compaction).
  private case class SwapFamily(
      name: String,
      init: String => Unit,                 // build the index at path
      probe: String => Seq[Any],            // deterministic probe result
      compact: String => Unit,              // the family's compaction
      legacyCrashTbl: String)               // table for the legacy-state sim

  private lazy val swapFamilies: Seq[SwapFamily] = {
    import org.apache.spark.sql.functions.col
    import graft.operators.{DedupQueries, OlapQueries, VectorQueries}
    val dir = "/root/testdata/sf0.001"
    lazy val docs = sources.Tables.documents(spark, dir).select("doc_id", "text")
    lazy val emb = sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    lazy val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q"), col("embedding").as("qe"))
    Seq(
      SwapFamily("sketch_months",
        p => OlapQueries.initSketchTable(spark, p, sources.Tables.orders(spark, dir)),
        p => OlapQueries.quarterlyRollup(spark, p).collect().toSeq
          .map(r => (r.get(0), r.get(1), r.get(2))), // exact cols; the estimate may move sub-rsd across compaction
        p => OlapQueries.compactSketchTable(spark, p),
        legacyCrashTbl = "months"),
      SwapFamily("dedup_minhash",
        p => DedupQueries.initStoredIndex(spark, p, docs.filter(col("doc_id") >= 100)),
        p => DedupQueries.probeStoredIndex(spark, p, docs.filter(col("doc_id") < 100))
          .collect().map(_.toSeq).toSeq.sortBy(_.toString),
        p => DedupQueries.compactStoredIndex(spark, p),
        legacyCrashTbl = "sig"),
      SwapFamily("pq_codes",
        p => VectorQueries.initStoredPqIndex(spark, p, emb),
        p => VectorQueries.ivfAdcProbe(spark,
            VectorQueries.readStoredPqIndex(spark, p), emb, probes)
          .collect().map(_.toSeq).toSeq.sortBy(_.toString),
        p => VectorQueries.compactStoredPqIndex(spark, p),
        legacyCrashTbl = "codes"))
  }

  for (fam <- Seq("sketch_months", "dedup_minhash", "pq_codes"))
    test(s"crash contract [$fam]: legacy mid-swap heal, compaction equality, pre-marker crash sweep") {
      val f = swapFamilies.find(_.name == fam).get
      val path = tempDir("graft_idx_spec") + "/" + fam
      f.init(path)
      val want = f.probe(path)
      assert(want.nonEmpty, s"$fam: empty probe baseline proves nothing")

      // (a) PRE-VERSIONING crash state: live dir renamed away, data only
      // in __old — the exact state the retired two-rename swap could
      // leave; readers must heal it (migration path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/${f.legacyCrashTbl}"),
        new org.apache.hadoop.fs.Path(s"$path/${f.legacyCrashTbl}__old")))
      assert(f.probe(path) == want, s"$fam: probe did not heal the legacy crash state")

      // (b) compaction publishes a fresh version; probe results pinned
      f.compact(path)
      assert(f.probe(path) == want, s"$fam: probe changed across compaction")
      assert(IndexStore.tableDataPath(spark, path, f.legacyCrashTbl).contains("__v"),
        s"$fam: compaction must publish a versioned dir")

      // (c) versioned-era crash BEFORE the marker: an unpublished
      // garbage version dir must be invisible to readers and swept by
      // the next compaction
      import spark.implicits._
      val liveDir = IndexStore.tableDataPath(spark, path, f.legacyCrashTbl)
      val crashedV = liveDir.substring(liveDir.lastIndexOf("__v") + 3).toLong + 1
      Seq.empty[Long].toDF("garbage").write
        .parquet(s"$path/${f.legacyCrashTbl}__v$crashedV")
      assert(f.probe(path) == want, s"$fam: probe must ignore an unpublished version dir")
      f.compact(path)
      assert(f.probe(path) == want, s"$fam: probe changed after the sweep-and-republish")
      assert(IndexStore.readSwappable(spark, path, f.legacyCrashTbl)
        .columns.toSeq != Seq("garbage"),
        s"$fam: the crashed writer's garbage must never become the live table")

      // (d) RE-INIT over the compacted (versioned) index: a fresh
      // lifecycle must clear every version dir + marker and serve from
      // the fresh legacy layout — a stale committed version surviving
      // a re-init would shadow the new data forever
      f.init(path)
      assert(f.probe(path) == want, s"$fam: probe changed after re-init over a versioned index")
      assert(!IndexStore.tableDataPath(spark, path, f.legacyCrashTbl).contains("__v"),
        s"$fam: re-init must reset the table to the fresh unversioned layout")
    }

  test("tag sweep is exact: tag 'day1' never deletes tag 'day1-retry' files (review finding)") {
    import spark.implicits._
    val idx = tempDir("graft_idx_spec") + "/tags"
    def publish(tag: String, v: Long): Unit =
      IndexStore.publishTaggedAppend(spark, idx, "t", tag) { stage =>
        Seq(v).toDF("x").coalesce(1).write.parquet(stage)
      }
    publish("day1-retry", 1L)
    publish("day1", 2L) // its pre-publish sweep must NOT touch day1-retry's files
    def rows() = spark.read.parquet(s"$idx/t").collect().map(_.getLong(0)).toSet
    assert(rows() == Set(1L, 2L), "prefix-collision sweep deleted the other tag's rows")
    // sweeping 'day1' explicitly removes exactly its own file
    IndexStore.sweepTaggedFiles(spark, idx, "t", "day1")
    assert(rows() == Set(1L))
    // and the replay path (re-publish same tag) still converges
    publish("day1", 2L)
    assert(rows() == Set(1L, 2L))
  }

  test("a resumed holder whose lock was taken over leaves the new holder's lock intact (review finding)") {
    val path = tempDir("graft_idx_spec") + "/lockown"
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => IndexStore.ensure(spark, path, "metaA") {
      started.countDown(); release.await()
    })
    t.start()
    assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // simulate a takeover while the holder is 'suspended': the lock file
    // now carries ANOTHER builder's owner token
    IndexStore.writeStamp(spark, path, "_graft_build_lock", "foreign-owner")
    release.countDown(); t.join(30000)
    assert(!t.isAlive)
    // the resumed holder must NOT have deleted the foreign lock
    assert(IndexStore.readStamp(spark, path, "_graft_build_lock")
      .contains("foreign-owner"),
      "resumed holder deleted a lock it no longer owns")
    // (the build itself completed and stamped — token only guards release)
    assert(IndexStore.readStamp(spark, path, "_graft_meta").contains("metaA"))
  }
}

package graft

import graft.ext.{DedupStore, MinHash}

/** Incremental near-dup dedup against the persistent signature store:
  * within-batch collapse, cross-batch rejection, replay idempotence.
  */
class DedupStoreSpec extends SparkSpec {
  import spark.implicits._

  private val baseText = (1 to 40).map(i => s"w$i").mkString(" ")

  test("ingestBatch: within-batch collapse, store-dup rejection, novel acceptance, replay no-op") {
    val path = tmpDir("dstore") + "/store"

    // batch 1: doc 1, its exact duplicate 2 (within-batch family), novel 3
    val other = (1 to 40).map(i => s"z$i").mkString(" ")
    val b1 = Seq((1L, baseText), (2L, baseText), (3L, other)).toDF("doc_id", "text")
    val r1 = DedupStore.ingestBatch(spark, b1, path)
    assert(r1 == DedupStore.IngestReport(accepted = 2, withinBatchDups = 1, storeDups = 0))

    // batch 2: near-dup of accepted doc 1 (one appended word, shingle
    // Jaccard 38/39 ~ 0.97) plus a novel doc
    val third = (1 to 40).map(i => s"y$i").mkString(" ")
    val b2 = Seq((4L, baseText + " tail"), (5L, third)).toDF("doc_id", "text")
    val r2 = DedupStore.ingestBatch(spark, b2, path)
    assert(r2.withinBatchDups == 0)
    assert(r2.storeDups == 1, s"doc 4 must be rejected as a store dup: $r2")
    assert(r2.accepted == 1, s"doc 5 must be accepted: $r2")

    // probe maps the rejected doc to its accepted original
    val sig4 = MinHash.signatures(
      Seq((4L, baseText + " tail")).toDF("doc_id", "text"), Seq("doc_id"))
    val m = DedupStore.probe(spark, sig4, path).collect()(0)
    assert(m.getLong(0) == 4L && m.getLong(1) == 1L)

    // replaying batch 2: doc 5 now matches its own stored signature — both
    // docs reject, nothing is appended twice
    val r3 = DedupStore.ingestBatch(spark, b2, path)
    assert(r3.accepted == 0 && r3.storeDups == 2)
  }

  test("compact bounds probe file-count after many ingests and preserves store behavior") {
    val path = tmpDir("dstore-c") + "/store"
    // 6 batches of distinct docs -> 6 appended file sets per side
    (0 until 6).foreach { b =>
      val docs = (1 to 3).map(i => (b * 10L + i, (1 to 40).map(j => s"b${b}d${i}w$j").mkString(" ")))
      DedupStore.ingestBatch(spark, docs.toDF("doc_id", "text"), path)
    }
    def parquetFiles(dir: String): Long = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val bandsBefore = parquetFiles(s"$path/bands")
    val before = spark.read.parquet(s"$path/bands").count()

    DedupStore.compact(spark, path)

    val bandDirs = new java.io.File(s"$path/bands").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("band="))
    val bandsAfter = parquetFiles(s"$path/bands")
    assert(bandsAfter < bandsBefore, s"compact must shrink file count: $bandsAfter of $bandsBefore")
    assert(bandsAfter == bandDirs, s"one file per band dir expected: $bandsAfter files, $bandDirs dirs")
    assert(spark.read.parquet(s"$path/bands").count() == before, "no signature rows lost")

    // the compacted store still rejects a replayed doc
    val replay = Seq((1L, (1 to 40).map(j => s"b0d1w$j").mkString(" "))).toDF("doc_id", "text")
    val r = DedupStore.ingestBatch(spark, replay, path)
    assert(r.accepted == 0 && r.storeDups == 1)
  }

  test("probe restores a store whose compact swap was killed between its two renames") {
    val path = tmpDir("dstore-crash") + "/store"
    DedupStore.ingestBatch(spark, Seq((1L, baseText)).toDF("doc_id", "text"), path)
    val sig = MinHash.signatures(
      Seq((4L, baseText + " tail")).toDF("doc_id", "text"), Seq("doc_id"))
    def dups(): Seq[(Long, Long)] =
      DedupStore.probe(spark, sig, path).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = dups()
    assert(before == Seq((4L, 1L)), s"doc 4 must duplicate doc 1: $before")

    // the state a kill after rename-aside and before rename-in leaves
    val bands = new org.apache.hadoop.fs.Path(s"$path/bands")
    val fs = bands.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(bands, graft.ops.FsCommit.backupOf(bands)))
    assert(!fs.exists(bands))

    assert(dups() == before, "the next probe must restore the backup and answer the same")
    assert(fs.exists(bands) && !fs.exists(graft.ops.FsCommit.backupOf(bands)))
  }

  test("an alien file in the store fails store-shaped, eagerly, naming the directory") {
    val path = tmpDir("dstore-alien") + "/store"
    val docs = Seq((1L, baseText)).toDF("doc_id", "text")
    DedupStore.ingestBatch(spark, docs, path)
    val sigs = MinHash.signatures(Seq((2L, baseText + " x")).toDF("doc_id", "text"), Seq("doc_id"))

    // case 1: a non-parquet file dropped into shingles/
    val junk = new java.io.File(s"$path/shingles/part-junk.parquet")
    java.nio.file.Files.write(junk.toPath, "not a parquet file".getBytes)
    val e1 = intercept[IllegalStateException] { DedupStore.probe(spark, sigs, path).count() }
    assert(e1.getMessage.contains(s"dedup store corrupt at $path/shingles"), e1.getMessage)
    assert(junk.delete())

    // case 2: a well-formed parquet file with a foreign schema in bands/ —
    // schema inference without the sweep would silently null-fill doc_id
    Seq(("oops", 1.5)).toDF("who", "what")
      .write.mode("append").parquet(s"$path/bands/band=0")
    val e2 = intercept[IllegalStateException] { DedupStore.probe(spark, sigs, path).count() }
    assert(e2.getMessage.contains(s"dedup store corrupt at $path/bands"), e2.getMessage)
    // compact goes through the same pinned read
    val e3 = intercept[IllegalStateException] { DedupStore.compact(spark, path) }
    assert(e3.getMessage.contains("dedup store corrupt"), e3.getMessage)
  }

  test("probe on a missing store is empty (bootstrap case)") {
    val sigs = MinHash.signatures(Seq((9L, baseText)).toDF("doc_id", "text"), Seq("doc_id"))
    assert(DedupStore.probe(spark, sigs, tmpDir("dstore-none") + "/nope").count() == 0)
  }

  test("probe verifies via candidate-bounded postings — store shingle arrays never join by id") {
    // the store side is the whole accepted history at scale; its sh arrays
    // must reach the verify as exploded postings of CANDIDATE docs behind a
    // broadcast id semi-join, never as payload of an id-keyed shuffled join
    // (the d2/d17 verify discipline)
    val path = tmpDir("dstore-plan") + "/store"
    val b1 = Seq((1L, baseText)).toDF("doc_id", "text")
    DedupStore.ingestBatch(spark, b1, path)
    val sig = MinHash.signatures(
      Seq((7L, baseText + " tail")).toDF("doc_id", "text"), Seq("doc_id"))
    val probe = DedupStore.probe(spark, sig, path)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"store filter must be a broadcast id semi-join:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin [old_id") && !plan.contains("ShuffledHashJoin [old_id"),
      s"no shuffled join may key on old_id (store shingle payload exchange):\n${plan.take(3000)}")
    assert(plan.contains("explode(sh"),
      s"verify must run over exploded candidate postings:\n${plan.take(3000)}")
    // and it still answers correctly
    val m = probe.collect()
    assert(m.length == 1 && m(0).getLong(0) == 7L && m(0).getLong(1) == 1L)
    // the shuffled fallback (candidate count above the broadcast bound) must
    // answer identically — forced with bound 0 so the at-scale branch is
    // exercised, not just the broadcast fast path
    val m2 = DedupStore.probe(spark, sig, path, broadcastCandBound = 0L).collect()
    assert(m2.length == 1 && m2(0).getLong(0) == 7L && m2(0).getLong(1) == 1L)
  }
}

package graft

import org.apache.spark.sql.functions._

/** Source/sink formats and physical-layout levers beyond the oracle-gated
  * parquet path: CSV/JSON roundtrips with explicit schemas, and bucketed
  * tables — the pre-partitioning that makes repeated big joins
  * exchange-free at cluster scale (the brief's "bucketing for co-located
  * joins"). The reference has no sources or sinks at all (SURVEY §2.3), so
  * all of this is capability surplus. */
class SourcesSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select($"doc_id", $"lang", $"n_chars")

  test("binaryFile source: arbitrary bytes read back exactly, glob filters apply") {
    val tmp = Artifacts.dir("bin").toPath
    val payload = Array.tabulate[Byte](256)(i => i.toByte) // every byte value
    java.nio.file.Files.write(tmp.resolve("a.bin"), payload)
    java.nio.file.Files.write(tmp.resolve("skip.txt"), "not binary".getBytes)
    val rows = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(tmp.toString).collect()
    assert(rows.length == 1, "glob must exclude the .txt file")
    assert(rows.head.getAs[Long]("length") == 256L)
    assert(rows.head.getAs[Array[Byte]]("content").toSeq == payload.toSeq,
      "content must be the exact bytes, no charset mangling")
  }

  test("xml roundtrip: markup-significant characters escape and restore byte-exact") {
    val tmp = Artifacts.dir("xml").toString
    val rows = Seq(
      (1L, "a < b & c > d"),
      (2L, "quotes \" and ' inside"),
      (3L, "<doc>nested markup-looking text</doc>"),
      (4L, "plain"))
    rows.toDF("id", "txt").write.mode("overwrite")
      .option("rowTag", "doc").xml(tmp)
    val back = spark.read.option("rowTag", "doc").xml(tmp)
      .select($"id", $"txt").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(back == rows, s"xml roundtrip must escape+restore exactly: $back")
  }

  test("schema evolution: mergeSchema unifies vintages, old rows null-fill the new column") {
    val tmp = Artifacts.dir("evo").toString
    docs.filter($"doc_id" % 2 === 0).select($"doc_id", $"n_chars")
      .write.mode("overwrite").parquet(tmp)
    docs.filter($"doc_id" % 2 === 1).select($"doc_id", $"n_chars", $"lang")
      .write.mode("append").parquet(tmp)
    val merged = spark.read.option("mergeSchema", "true").parquet(tmp)
    assert(merged.schema.fieldNames.toSet == Set("doc_id", "n_chars", "lang"))
    val n = docs.count()
    assert(merged.count() == n, "both vintages read")
    assert(merged.filter($"lang".isNull).count() == n - n / 2 &&
      merged.filter($"lang".isNull && $"doc_id" % 2 =!= 0).count() == 0,
      "exactly the pre-evolution vintage null-fills the added column")
    // old shards are untouched on disk: evolution costs zero rewrites
    val files = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    // pruning still reaches the scan on the merged relation
    val plan = merged.select($"doc_id").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"),
      s"projection must prune to doc_id:\n$plan")
  }

  test("csv roundtrip with explicit schema preserves rows and types") {
    val tmp = Artifacts.dir("csv").toString
    docs.write.mode("overwrite").option("header", "true").csv(tmp)
    val back = spark.read.option("header", "true").schema(docs.schema).csv(tmp)
    assert(back.schema == docs.schema)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("json roundtrip with explicit schema preserves rows and types") {
    val tmp = Artifacts.dir("json").toString
    docs.write.mode("overwrite").json(tmp)
    val back = spark.read.schema(docs.schema).json(tmp)
    assert(back.schema == docs.schema)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("upsertSharded rewrites only the touched shard directories; updates win") {
    import graft.sources.Sinks
    val df = spark.range(0, 64).select(col("id").as("doc_id"),
      (col("id") * 7 % 13).as("payload"))
    val tmp = Artifacts.dir("shards_upsert").toString
    Sinks.writeSharded(df, tmp, "doc_id", nShards = 4)
    def files(shard: Int): Set[(String, Long)] =
      new java.io.File(tmp, s"shard=$shard").listFiles()
        .filter(_.getName.startsWith("part-"))
        .map(f => f.getName -> f.lastModified).toSet
    val before = (0 until 4).map(files)
    // update doc 5 (shard 1), insert doc 100 (shard 0): touches shards 0, 1
    val updates = Seq((5L, 999L), (100L, 1L)).toDF("doc_id", "payload")
    Sinks.upsertSharded(spark, tmp, updates, "doc_id", nShards = 4)
    val back = Sinks.readSharded(spark, tmp)
    assert(back.count() == 65)
    assert(back.filter(col("doc_id") === 5).select("payload")
      .collect().map(_.getLong(0)).toSeq == Seq(999L))
    assert(back.filter(col("doc_id") === 100).count() == 1)
    // every untouched row survived byte-identically
    assert(back.filter(col("doc_id") =!= 5 && col("doc_id") =!= 100)
      .exceptAll(df.filter(col("doc_id") =!= 5)
        .withColumn("shard", pmod(col("doc_id"), lit(4)).cast("int"))).isEmpty)
    // shards 2 and 3 were not rewritten (same files, same mtimes)
    assert(files(2) == before(2) && files(3) == before(3))
    assert(files(0) != before(0) && files(1) != before(1))
  }

  test("writeRangeSharded + readRangePruned: pruned scan reads fewer files, same rows") {
    import graft.sources.Sinks
    val bounds = Seq(150L, 250L, 350L, 450L)
    val tmp = Artifacts.dir("range_shards").toString
    Sinks.writeRangeSharded(docs, tmp, "n_chars", bounds)
    // shard assignment: every row sits in the shard its value maps to
    val all = Sinks.readSharded(spark, tmp)
    val misplaced = all.filter(
      col("shard") =!= bounds.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col("n_chars") >= b, 1).otherwise(0) }.cast("int"))
    assert(misplaced.isEmpty, "row in wrong range shard")
    // pruned read ≡ plain filter on the original frame
    val pruned = Sinks.readRangePruned(spark, tmp, "n_chars", bounds, 180L, 320L)
    val expected = docs.filter(col("n_chars") >= 180 && col("n_chars") <= 320)
    assert(pruned.drop("shard").exceptAll(expected).isEmpty &&
      expected.exceptAll(pruned.drop("shard")).isEmpty)
    // planning-time pruning: the scan carries a partition filter on `shard`
    // and the pruned file listing keeps only the 2 qualifying directories
    // (inputFiles can't show this — it lists the unpruned FileIndex)
    assert(Sinks.shardsForRange(bounds, 180L, 320L) == Seq(1, 2))
    val scan = pruned.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.nonEmpty, "no partition filter pushed")
    val survivingDirs = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
    assert(survivingDirs.length == 2,
      s"pruning kept ${survivingDirs.length} of 5 shard dirs, expected 2")
  }

  test("z-order layout: either dimension prunes to 2^bits of 4^bits dirs; rows exact") {
    import graft.sources.Sinks
    val tmp = Artifacts.dir("zorder").toString
    // 2 interleaved dims, 3 bits each -> 64 dirs; docs fixture has
    // lang + n_chars
    val langIdx = (array_position(
      array(Seq("de", "en", "es", "fr", "zh").map(lit): _*), col("lang")) - 1)
      .cast("int")
    val charBucket = least(floor(col("n_chars") / 64), lit(7)).cast("int")
    Sinks.writeZOrdered(docs, tmp, langIdx, charBucket, bitsPerDim = 3)
    // zOf/zInterleave agree and are bijective over the 8x8 grid
    val zs = for (a <- 0 until 8; b <- 0 until 8) yield Sinks.zOf(a, b, 3)
    assert(zs.toSet == (0 until 64).toSet, "interleave must be a bijection")
    def survivors(df: org.apache.spark.sql.DataFrame): Int = {
      val scan = df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      assert(scan.partitionFilters.nonEmpty, "no partition filter pushed")
      scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters).length
    }
    // lang-only predicate: 8 of (up to) 64 dirs; empty cells write no dir,
    // so assert the pruned listing never exceeds 2^bits
    val byLang = Sinks.readZPruned(spark, tmp, 3, a = Some(0), b = None)
      .filter(col("lang") === "de")
    assert(survivors(byLang) <= 8, "lang predicate must prune to <= 8 dirs")
    val expectedLang = docs.filter(col("lang") === "de")
    assert(byLang.drop("zshard").exceptAll(expectedLang).isEmpty &&
      expectedLang.exceptAll(byLang.drop("zshard")).isEmpty)
    // chars-only predicate on the SAME layout — the capability range
    // sharding lacks
    val byChars = Sinks.readZPruned(spark, tmp, 3, a = None, b = Some(2))
      .filter(col("n_chars") >= 128 && col("n_chars") < 192)
    assert(survivors(byChars) <= 8, "chars predicate must prune to <= 8 dirs")
    val expectedChars = docs.filter(col("n_chars") >= 128 && col("n_chars") < 192)
    assert(byChars.drop("zshard").exceptAll(expectedChars).isEmpty &&
      expectedChars.exceptAll(byChars.drop("zshard")).isEmpty)
    // both dims fixed -> a single cell
    assert(Sinks.zShards(3, Some(1), Some(2)).length == 1)
  }

  test("parquet schema evolution: mergeSchema unions vintages, old rows null-extend") {
    // a long-lived 100 TB table accretes columns; readers must union the
    // schemas across file vintages without rewriting history
    val tmp = Artifacts.dir("evo").toString
    docs.select($"doc_id", $"lang").limit(10)
      .write.parquet(s"$tmp/batch=1")
    docs.select($"doc_id", $"lang", $"n_chars").limit(10)
      .write.parquet(s"$tmp/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(tmp)
    assert(merged.columns.toSet == Set("doc_id", "lang", "n_chars", "batch"))
    val v1 = merged.filter($"batch" === 1)
    assert(v1.count() == 10 && v1.filter($"n_chars".isNull).count() == 10,
      "pre-evolution rows must read as null in the new column")
    assert(merged.filter($"batch" === 2 && $"n_chars".isNotNull).count() == 10)
  }

  test("json ingestion: PERMISSIVE quarantines corrupt records, DROPMALFORMED drops") {
    // raw-feed ingestion contract: a malformed line must neither kill the
    // job nor silently vanish — PERMISSIVE lands it in _corrupt_record for
    // a quarantine sink; DROPMALFORMED is the explicit discard mode
    val tmp = Artifacts.dir("json").toPath
    java.nio.file.Files.writeString(tmp.resolve("feed.json"),
      """{"id": 1, "v": "ok"}
        |{"id": 2 BROKEN
        |{"id": 3, "v": "fine"}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v STRING, _corrupt_record STRING")
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").json(tmp.toString)
    // caching first is the documented requirement for referencing
    // _corrupt_record alongside other columns
    permissive.cache()
    assert(permissive.count() == 3)
    val bad = permissive.filter($"_corrupt_record".isNotNull)
    assert(bad.count() == 1)
    assert(bad.head.isNullAt(bad.head.fieldIndex("id")),
      "the corrupt row's typed columns must be null, raw text quarantined")
    assert(permissive.filter($"_corrupt_record".isNull).count() == 2)
    permissive.unpersist()
    val dropped = spark.read.schema(schema)
      .option("mode", "DROPMALFORMED").json(tmp.toString)
    assert(dropped.filter($"v".isNotNull).count() == 2)
  }

  test("dynamic partition overwrite: daily re-ingest rewrites ONLY the target day") {
    // the operational contract of the q93 dt= layout: a corrected daily
    // batch re-lands its own partition and must not touch (or drop) the
    // other days — partitionOverwriteMode=dynamic, the exactly-once-style
    // backfill every event lake relies on
    val tmp = Artifacts.dir("dpo").toString
    val ev = Tables.events(spark, sf)
      .withColumn("dt", to_date(col("ts")))
      .select(col("event_id"), col("user_id"), col("value"), col("dt"))
    ev.write.partitionBy("dt").mode("overwrite").parquet(tmp)
    val day = "2024-01-10"
    val otherDirs = new java.io.File(tmp).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dt=") &&
        f.getName != s"dt=$day")
      .map(f => f.getName -> f.lastModified()).toMap
    assert(otherDirs.size == 29, "expected 30 day-partitions")
    // corrected batch for one day: same rows, values doubled
    val corrected = ev.filter(col("dt") === lit(day))
      .withColumn("value", col("value") * 2)
    val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try corrected.write.partitionBy("dt").mode("overwrite").parquet(tmp)
    finally prevMode match {
      case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val after = spark.read.parquet(tmp)
      .select(col("event_id"), col("user_id"), col("value"), col("dt"))
    // full-content equality against the recomputed expectation: the
    // target day doubled, every other day byte-identical, nothing dropped
    val expected = ev.withColumn("value",
      when(col("dt") === lit(day), col("value") * 2).otherwise(col("value")))
    assert(after.exceptAll(expected).isEmpty && expected.exceptAll(after).isEmpty,
      "layout after dynamic overwrite must equal source with day-10 corrected")
    // untouched partitions keep their directory mtimes (never rewritten)
    val otherAfter = new java.io.File(tmp).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dt=") &&
        f.getName != s"dt=$day")
      .map(f => f.getName -> f.lastModified()).toMap
    assert(otherAfter == otherDirs, "cold partitions must not be rewritten")
  }

  test("compactTo: bin-packs per directory to ceil(bytes/target), content exact") {
    import graft.sources.Sinks
    val src = Artifacts.dir("cmp_src").toString
    val dst = Artifacts.dir("cmp_dst").toString
    val ev = Tables.events(spark, sf)
      .withColumn("dt", to_date(col("ts")))
      .select(col("event_id"), col("user_id"), col("value"), col("dt"))
    // fragmented ingest: 16 writer tasks fan every day into ~16 tiny files
    ev.repartition(16).write.partitionBy("dt").mode("overwrite").parquet(src)
    val before = Sinks.fileStats(spark, src)
    assert(before.nonEmpty && before.values.map(_._1).sum > 10 * before.size,
      "fragmented layout should hold many files per dt dir")
    // huge target → every directory collapses to exactly one file
    Sinks.compactTo(spark, src, dst, "dt", keyCol = "event_id",
      targetBytes = 1L << 30)
    val one = Sinks.fileStats(spark, dst)
    assert(one.keySet == before.keySet)
    assert(one.values.forall(_._1 == 1), s"expected 1 file/dir, got $one")
    // small target → per-dir count bounded by the bin-pack plan (hash
    // collisions may merge buckets — fewer/larger is the allowed direction)
    val dst2 = Artifacts.dir("cmp_dst2").toString
    val target = 16L << 10
    Sinks.compactTo(spark, src, dst2, "dt", keyCol = "event_id", target)
    val packed = Sinks.fileStats(spark, dst2)
    before.foreach { case (dir, (_, bytes)) =>
      val planned = math.max(1L, (bytes + target - 1) / target)
      val got = packed(dir)._1
      assert(got >= 1 && got <= planned, s"$dir: $got files vs plan $planned")
    }
    // at least one directory actually split (the plan isn't vacuously 1)
    assert(packed.values.exists(_._1 > 1), s"no dir split at $target bytes")
    // content exact through both geometries
    for (p <- Seq(dst, dst2)) {
      val back = spark.read.parquet(p)
        .select(col("event_id"), col("user_id"), col("value"), col("dt"))
      assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty,
        s"compacted content at $p must equal source")
    }
  }

  test("compactDirsInPlace: only named days rewritten, cold dirs byte-stable") {
    import graft.sources.Sinks
    val tmp = Artifacts.dir("cmp_ip").toString
    val ev = Tables.events(spark, sf)
      .withColumn("dt", to_date(col("ts")))
      .select(col("event_id"), col("user_id"), col("value"), col("dt"))
    ev.repartition(16).write.partitionBy("dt").mode("overwrite").parquet(tmp)
    val day = "2024-01-10"
    def fileSet(dir: String): Set[(String, Long)] =
      Option(new java.io.File(tmp, dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.endsWith(".crc"))
        .map(f => f.getName -> f.length()).toSet
    val coldBefore = Sinks.fileStats(spark, tmp).keySet
      .filterNot(_ == s"dt=$day").map(d => d -> fileSet(d)).toMap
    assert(Sinks.fileStats(spark, tmp)(s"dt=$day")._1 > 4,
      "hot day should start fragmented")
    Sinks.compactDirsInPlace(spark, tmp, "dt", Seq(day),
      keyCol = "event_id", targetBytes = 1L << 30)
    // hot day collapsed to one file; cold dirs carry the identical files
    assert(Sinks.fileStats(spark, tmp)(s"dt=$day")._1 == 1)
    val coldAfter = coldBefore.keys.map(d => d -> fileSet(d)).toMap
    assert(coldAfter == coldBefore, "cold dirs must keep identical file sets")
    val back = spark.read.parquet(tmp)
      .select(col("event_id"), col("user_id"), col("value"), col("dt"))
    assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty,
      "in-place compaction must preserve content exactly")
  }

  test("bucketed tables: co-located equi-join plans without a shuffle exchange") {
    val left = spark.range(0, 1000).select($"id".as("k"), ($"id" * 3).as("a"))
    val right = spark.range(0, 1000).select($"id".as("k"), ($"id" % 7).as("b"))
    val d1 = Artifacts.dir("b1").toString
    val d2 = Artifacts.dir("b2").toString
    left.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .option("path", d1).saveAsTable("graft_bl")
    right.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .option("path", d2).saveAsTable("graft_br")
    try {
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("graft_bl").join(spark.table("graft_br"), "k")
        assert(joined.count() == 1000)
        val plan = joined.queryExecution.executedPlan.toString
        // both sides arrive pre-partitioned on k: a sort-merge join with NO
        // Exchange anywhere — the plan shape a 100 TB fact-fact join needs
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange"), plan)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bl")
      spark.sql("DROP TABLE IF EXISTS graft_br")
    }
  }

  test("unbucketed control: the same join does shuffle both sides") {
    val left = spark.range(0, 1000).select($"id".as("k"), ($"id" * 3).as("a"))
    val right = spark.range(0, 1000).select($"id".as("k"), ($"id" % 7).as("b"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = left.join(right, "k")
      assert(joined.count() == 1000)
      assert(joined.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("writeTrainingShards: budget respected; resume from a partial manifest is idempotent") {
    import graft.sources.Sinks
    val tmp = Artifacts.dir("tshards").toString
    val input = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val B = 2048L
    Sinks.writeTrainingShards(spark, input, tmp, "doc_id", "text", B)
    val back = Sinks.readTrainingShards(spark, tmp)
    // every row once; the shard split loses/duplicates nothing
    assert(back.count() == input.count())
    // budget respected: a doc's first token lands inside its shard's
    // [k·B, (k+1)·B) token window — the concat-and-chunk shard rule
    val sid = col("shard_id").cast("long")
    assert(back.filter(col("token_offset") < sid * B ||
      col("token_offset") >= (sid + 1L) * B).count() == 0)
    // stored manifest == manifest recomputed from the read-back rows
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("shard_id").cast("long"), col("n_docs"),
        col("n_tokens"), col("order_digest"))
      .collect().map(_.toString).sorted.toSeq
    val stored = spark.read.parquet(s"$tmp/_manifest")
    val recomputed = Sinks.trainingShardManifest(back)
    assert(canon(stored) == canon(recomputed))
    val fullManifest = canon(stored)
    val fullRows = back.collect().map(_.toString).sorted.toSeq

    // simulate a crash that lost one shard: drop the LAST shard's dir and
    // its manifest row (manifest row present == shard durable)
    val lost = stored.agg(max(col("shard_id"))).head.getLong(0)
    val lostDir = new java.io.File(s"$tmp/shards/shard_id=$lost")
    assert(lostDir.isDirectory)
    lostDir.listFiles.foreach(_.delete()); lostDir.delete()
    val partial = stored.filter(col("shard_id") =!= lost)
      .collect().toSeq // materialize BEFORE overwriting the dir we read
    import spark.implicits._
    spark.createDataFrame(
        spark.sparkContext.parallelize(partial), stored.schema)
      .write.mode("overwrite").parquet(s"$tmp/_manifest")
    // record a surviving shard's file mtimes: resume must not rewrite it
    val keptDir = new java.io.File(s"$tmp/shards/shard_id=0")
    val mtimes = keptDir.listFiles.map(f => f.getName -> f.lastModified).toMap

    Sinks.writeTrainingShards(spark, input, tmp, "doc_id", "text", B)
    // resumed export == fresh full export, bit-for-bit rows + manifest
    assert(canon(spark.read.parquet(s"$tmp/_manifest")) == fullManifest)
    assert(Sinks.readTrainingShards(spark, tmp)
      .collect().map(_.toString).sorted.toSeq == fullRows)
    // recorded shards were skipped, not rewritten
    keptDir.listFiles.foreach(f =>
      assert(mtimes(f.getName) == f.lastModified,
        s"resume must not touch durable shard file ${f.getName}"))
  }

  test("writeTrainingShards: resume fingerprint guards budget and input drift") {
    import graft.sources.Sinks
    val tmp = Artifacts.dir("tsguard").toString
    val input = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    Sinks.writeTrainingShards(spark, input, tmp, "doc_id", "text", 2048L)
    // a rerun over the same path with a DIFFERENT budget would mix shard
    // layouts (recorded shards keep old-budget contents while the
    // manifest is recomputed from the new plan) — must raise, not mix
    val e1 = intercept[IllegalArgumentException] {
      Sinks.writeTrainingShards(spark, input, tmp, "doc_id", "text", 4096L)
    }
    assert(e1.getMessage.contains("fingerprint mismatch") &&
      e1.getMessage.contains("tokens_per_shard"), e1.getMessage)
    // ... and so would a CHANGED input under the same budget
    val e2 = intercept[IllegalArgumentException] {
      Sinks.writeTrainingShards(spark, input.filter($"doc_id" % 2 === 0),
        tmp, "doc_id", "text", 2048L)
    }
    assert(e2.getMessage.contains("fingerprint mismatch"), e2.getMessage)
    // the matching rerun still resumes cleanly (idempotence unchanged)
    Sinks.writeTrainingShards(spark, input, tmp, "doc_id", "text", 2048L)
  }

  test("appendTrainingShards: recorded shards frozen; new docs land once in new shards") {
    import graft.sources.Sinks
    val tmp = Artifacts.dir("tsappend").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val t = docs.agg(expr("max(doc_id) div 2")).head.getLong(0)
    val base = docs.filter($"doc_id" <= t)
    val delta = docs.filter($"doc_id" > t)
    val B = 2048L
    Sinks.writeTrainingShards(spark, base, tmp, "doc_id", "text", B)
    val baseManifest = spark.read.parquet(s"$tmp/_manifest")
      .collect().map(_.toString).sorted.toSeq
    val s0 = spark.read.parquet(s"$tmp/_manifest")
      .agg(max(col("shard_id").cast("long"))).head.getLong(0) + 1
    // record EVERY base shard file's (name → mtime): append must not
    // touch any recorded byte
    def shardFiles() = new java.io.File(s"$tmp/shards").listFiles
      .filter(_.getName.startsWith("shard_id=")).flatMap(d =>
        d.listFiles.map(f => s"${d.getName}/${f.getName}" -> f.lastModified))
      .toMap
    val before = shardFiles()
    Sinks.appendTrainingShards(spark, delta, tmp, "doc_id", "text")
    val after = shardFiles()
    before.foreach { case (name, mt) =>
      assert(after(name) == mt, s"append must not touch recorded $name") }
    // every doc lands exactly once; new docs only in shards ≥ s0
    val back = Sinks.readTrainingShards(spark, tmp)
    assert(back.count() == docs.count())
    assert(back.select($"doc_id").exceptAll(docs.select($"doc_id")).isEmpty)
    assert(docs.select($"doc_id").exceptAll(back.select($"doc_id")).isEmpty)
    assert(back.filter(col("shard_id").cast("long") >= s0 &&
      $"doc_id" <= t).count() == 0)
    assert(back.filter(col("shard_id").cast("long") < s0 &&
      $"doc_id" > t).count() == 0)
    // budget respected batch-relatively for the appended shards: stored
    // token_offset continues the global sequence, shard ids are
    // s0 + (batch-relative offset div B)
    val baseTokens = spark.read.parquet(s"$tmp/_manifest")
      .filter(col("shard_id").cast("long") < s0)
      .agg(sum(col("n_tokens"))).head.getLong(0)
    val sid = col("shard_id").cast("long")
    val rel = col("token_offset") - lit(baseTokens)
    assert(back.filter(sid >= s0).filter(
      rel < (sid - s0) * B || rel >= (sid - s0 + 1L) * B).count() == 0)
    // stored manifest == manifest recomputed from read-back rows, and the
    // base rows of the manifest are byte-for-byte the pre-append ones
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("shard_id").cast("long"), col("n_docs"), col("n_tokens"),
        col("order_digest")).collect().map(_.toString).sorted.toSeq
    val stored = spark.read.parquet(s"$tmp/_manifest")
    assert(canon(stored) == canon(Sinks.trainingShardManifest(back)))
    assert(stored.filter(col("shard_id").cast("long") < s0)
      .collect().map(_.toString).sorted.toSeq == baseManifest,
      "append must not alter recorded manifest rows")
    // monotone guard: overlapping ids raise, never duplicate
    val e = intercept[IllegalArgumentException] {
      Sinks.appendTrainingShards(spark, docs.limit(5), tmp, "doc_id", "text")
    }
    assert(e.getMessage.contains("strictly greater"), e.getMessage)
    // empty delta is a no-op
    Sinks.appendTrainingShards(spark, docs.filter(lit(false)), tmp,
      "doc_id", "text")
    assert(canon(spark.read.parquet(s"$tmp/_manifest")) == canon(stored))
  }

  test("append/rebuild guards: appended exports refuse full-rebuild resume and stale-_meta retries") {
    import graft.sources.Sinks
    val tmp = Artifacts.dir("tsguard2").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val t = docs.agg(expr("max(doc_id) div 2")).head.getLong(0)
    val B = 2048L
    Sinks.writeTrainingShards(spark, docs.filter($"doc_id" <= t), tmp,
      "doc_id", "text", B)
    val metaBefore = spark.read.parquet(s"$tmp/_meta").collect()
    Sinks.appendTrainingShards(spark, docs.filter($"doc_id" > t), tmp,
      "doc_id", "text")
    // (r16 advice #1) after the append, _meta holds WHOLE-corpus totals —
    // a full-corpus rerun of writeTrainingShards passes the fingerprint
    // fields, but its interleaved plan is NOT the on-disk append layout:
    // the recorded-manifest cross-check must refuse instead of silently
    // rewriting the manifest out from under the append-layout bytes
    val manifest = spark.read.parquet(s"$tmp/_manifest").collect()
      .map(_.toString).sorted.toSeq
    val e1 = intercept[IllegalArgumentException] {
      Sinks.writeTrainingShards(spark, docs, tmp, "doc_id", "text", B)
    }
    assert(e1.getMessage.contains("appendTrainingShards"), e1.getMessage)
    assert(spark.read.parquet(s"$tmp/_manifest").collect()
      .map(_.toString).sorted.toSeq == manifest,
      "the refused rebuild must not have touched the manifest")
    // (r16 advice #2) crash window between the manifest overwrite and the
    // _meta overwrite: simulate by restoring the PRE-append _meta next to
    // the post-append manifest; the retry must raise at entry (directing
    // to repair) instead of re-appending the delta under the stale guard
    val metaSchema = spark.read.parquet(s"$tmp/_meta").schema
    spark.createDataFrame(
        spark.sparkContext.parallelize(metaBefore.toSeq), metaSchema)
      .write.mode("overwrite").parquet(s"$tmp/_meta")
    val e2 = intercept[IllegalArgumentException] {
      Sinks.appendTrainingShards(spark, docs.filter($"doc_id" > t), tmp,
        "doc_id", "text")
    }
    assert(e2.getMessage.contains("repairTrainingShardManifest"), e2.getMessage)
    // repair heals it; the corpus reads back whole with no duplication
    Sinks.repairTrainingShardManifest(spark, tmp, "doc_id", B)
    Sinks.appendTrainingShards(spark, docs.filter(lit(false)), tmp,
      "doc_id", "text")
    assert(Sinks.readTrainingShards(spark, tmp).count() == docs.count())
    assert(Sinks.readTrainingShards(spark, tmp)
      .select($"doc_id").distinct().count() == docs.count())
  }

  test("repairTrainingShardManifest: sidecars rebuild from shard data; append continues") {
    import graft.sources.Sinks
    val tmp = Artifacts.dir("tsrepair").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val t = docs.agg(expr("max(doc_id) div 2")).head.getLong(0)
    Sinks.writeTrainingShards(spark, docs.filter($"doc_id" <= t), tmp,
      "doc_id", "text", 2048L)
    def canon(p: String) = spark.read.parquet(p).collect()
      .map(_.toString).sorted.toSeq
    val manifest0 = canon(s"$tmp/_manifest")
    val meta0 = canon(s"$tmp/_meta")
    // simulate the crash window: both sidecars lost mid-overwrite
    for (side <- Seq("_manifest", "_meta")) {
      val p = java.nio.file.Paths.get(tmp, side)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    Sinks.repairTrainingShardManifest(spark, tmp, "doc_id", 2048L)
    assert(canon(s"$tmp/_manifest") == manifest0,
      "rebuilt manifest must equal the one the write recorded")
    assert(canon(s"$tmp/_meta") == meta0,
      "rebuilt fingerprint must equal the one the write recorded")
    // the repaired export appends exactly as an unrepaired one would
    Sinks.appendTrainingShards(spark, docs.filter($"doc_id" > t), tmp,
      "doc_id", "text")
    assert(Sinks.readTrainingShards(spark, tmp).count() == docs.count())
  }

  test("training-shard export works against an explicit file:/ URI (hadoop-fs paths)") {
    import graft.sources.Sinks
    val dir = Artifacts.dir("tsuri").toPath
    val uri = dir.toUri.toString.stripSuffix("/") // file:///tmp/...
    val input = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(50)
    Sinks.writeTrainingShards(spark, input, uri, "doc_id", "text", 2048L)
    // resume through the URI exercises pathExists on the hadoop FS
    Sinks.writeTrainingShards(spark, input, uri, "doc_id", "text", 2048L)
    assert(Sinks.readTrainingShards(spark, uri).count() == 50)
    assert(spark.read.parquet(s"$uri/_meta").head
      .getAs[Long]("tokens_per_shard") == 2048L)
  }
}

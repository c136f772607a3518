package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

/** Round-18 stage-level decomposition of this round's optimization
  * targets (tooling, guide §1: measure first — isolate which stage of
  * each expensive query actually carries the time before touching
  * anything). `runMain graft.ProfileR18 [sfDir] [section ...]`
  */
object ProfileR18 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val sections =
      if (args.length > 1) args.drop(1).toSet
      else Set("stann", "ivfpq", "bpe", "near", "jointm", "lmbkt")
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[p18] $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    spark.read.parquet(s"$sfDir/region.parquet").count() // session warm-up

    if (sections("stann")) {
      // st_ann_topk = stage 5 files + AvailableNow drain (refits on
      // batches 0/2/4) + ivfTopK serve. Which leg carries the 12.7 s?
      val e = EntryFixtures.embDouble(spark, sfDir)
        .select(col("vec_id"), col("emb_d").as("embedding"))
      for (i <- 1 to 2) {
        spark.catalog.clearCache(); graft.util.Caches.clear()
        val stage = graft.util.Scratch.dir("p18_stann_in")
        t(s"stann: stage 5 files #$i") {
          (0L to 4L).foreach { j =>
            val part = if (j < 4) e.filter(col("vec_id") % 4 === j)
              else e.filter(col("vec_id") % 4 === 0)
            part.coalesce(1).write.mode("overwrite").parquet(s"$stage/f$j")
            val listing = java.nio.file.Files.list(java.nio.file.Paths.get(s"$stage/f$j"))
            try {
              import scala.jdk.CollectionConverters._
              listing.iterator().asScala
                .filter(_.getFileName.toString.endsWith(".parquet"))
                .foreach(f => java.nio.file.Files.setLastModifiedTime(f,
                  java.nio.file.attribute.FileTime
                    .fromMillis(1700000000000L + j * 600000L)))
            } finally listing.close()
          }
        }
        val (work, cp) = (graft.util.Scratch.dir("p18_stann_work"),
          graft.util.Scratch.dir("p18_stann_cp"))
        val schema = spark.read.parquet(s"$stage/f0").schema
        t(s"stann: drain 5 triggers #$i") {
          import org.apache.spark.sql.streaming.Trigger
          val q = graft.streaming.AnnStream.writer(
              spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(s"$stage/f*"),
              work, cp, k = 8, iters = 2, refitEvery = 2)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        val queries = EntryFixtures.embDouble(spark, sfDir)
          .filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec"))
        t(s"stann: serve topK #$i")(
          graft.streaming.AnnStream.topK(spark, work, queries,
            k = 10, nprobe = 2).count())
        t(s"stann: full query #$i")(
          SparkEntry.queries("st_ann_topk")(spark, sfDir).count())
      }
    }

    if (sections("ivfpq")) {
      val e = EntryFixtures.embDouble(spark, sfDir)
      val corpus = e.select(col("vec_id"), col("emb_d"))
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec"))
      for (i <- 1 to 2) {
        spark.catalog.clearCache(); graft.util.Caches.clear()
        t(s"ivfpq: corpus count #$i")(corpus.count())
        val cells = t(s"ivfpq: kmeansCellsFixed(8,2) #$i") {
          val c = Similarity.kmeansCellsFixed(corpus, 8, 2, cVec = "emb_d")
          c.count(); c
        }
        t(s"ivfpq: cells re-count (recompute?) #$i")(cells.count())
        t(s"ivfpq: full ann_ivfpq_topk #$i")(
          SparkEntry.queries("ann_ivfpq_topk")(spark, sfDir).count())
        spark.catalog.clearCache(); graft.util.Caches.clear()
        t(s"ivfpq: full ann_pq_topk #$i")(
          SparkEntry.queries("ann_pq_topk")(spark, sfDir).count())
      }
    }

    if (sections("bpe")) {
      val docs = Tables.documents(spark, sfDir)
      for (i <- 1 to 2) {
        val vocab = t(s"bpe: vocab build+count #$i") {
          val v = docs.select(explode(
              graft.functions.Text.tokens(lower(col("text")))).as("w"))
            .groupBy(col("w")).agg(count(lit(1)).as("wn"))
          val n = v.count(); println(s"[p18]   vocab rows = $n"); v
        }
        t(s"bpe: 8 merges (distributed loop) #$i")(
          graft.functions.Text.bpeTrainMerges(docs, "text", nMerges = 8).count())
        val _ = vocab
      }
    }

    if (sections("near")) {
      val docs = EntryFixtures.docsWithPlantedDups(spark, sfDir)
      for (i <- 1 to 2) {
        spark.catalog.clearCache(); graft.util.Caches.clear()
        t(s"near: exactGroups probe (cold) #$i")(
          Dedup.nearDuplicatesPortable(docs, "doc_id", "text",
            threshold = 0.5).limit(1).count())
        spark.catalog.clearCache()
        t(s"near: signatures+banding count #$i")(
          Dedup.bandSignaturesPortable(
            Dedup.minhashSignaturesPortable(docs, "doc_id", "text", 16),
            "doc_id", 16, 4).count())
        spark.catalog.clearCache()
        t(s"near: full query (memo warm) #$i")(
          SparkEntry.queries("dedup_near")(spark, sfDir).count())
      }
    }

    if (sections("jointm")) {
      for (i <- 1 to 2) {
        graft.util.Caches.clear()
        spark.catalog.clearCache()
        val stage = graft.util.Scratch.dir("p18_stjm_in")
        t(s"jointm: stage enriched #$i")(
          EntryFixtures.enriched(spark, sfDir).select(col("order_id"),
              col("user_id"), col("product_id"), col("category"),
              col("sale_price"), col("is_returned"), col("order_date"))
            .write.mode("overwrite").parquet(stage))
        val (root, cp) = (graft.util.Scratch.dir("p18_stjm_root"),
          graft.util.Scratch.dir("p18_stjm_cp"))
        t(s"jointm: drain manifested #$i") {
          import org.apache.spark.sql.streaming.Trigger
          val stream = spark.readStream
            .schema(spark.read.parquet(stage).schema).parquet(stage)
          val q = graft.streaming.JointKpis.writerManifested(stream, root, cp)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        t(s"jointm: read daily #$i")(
          graft.streaming.JointKpis.dailyTableManifested(spark, root).count())
        val offsets = new java.io.File(s"$cp/offsets").list()
        println(s"[p18]   jointm drain batches = ${if (offsets == null) 0 else offsets.length}")
      }
      // isolate the manifested COMMIT from the stream machinery: same
      // tagged rows, committed directly as batch 0
      val st3 = graft.util.Scratch.dir("p18_stjm3_in")
      EntryFixtures.enriched(spark, sfDir).select(col("order_id"),
          col("user_id"), col("product_id"), col("category"),
          col("sale_price"), col("is_returned"), col("order_date"))
        .write.mode("overwrite").parquet(st3)
      val tagged = graft.streaming.JointKpis.stream(
        spark.read.parquet(st3)).toDF().persist()
      tagged.count()
      for (i <- 1 to 2) {
        val root2 = graft.util.Scratch.dir(s"p18_stjm3_root$i")
        t(s"jointm: direct commitPartitionedTables #$i") {
          val cat = tagged.filter(col("table") === "category")
            .select("category", "order_date", "daily_revenue", "avg_order_value",
              "avg_return_rate")
          val day = tagged.filter(col("table") === "daily")
            .select("order_date", "total_orders", "total_revenue",
              "total_items_sold", "return_rate", "unique_customers")
          graft.state.ManifestStore.commitPartitionedTables(spark,
            new org.apache.hadoop.fs.Path(root2), 0L, Seq(
              graft.state.ManifestStore.TableCommit("category", cat,
                Seq("category", "order_date"), "order_date"),
              graft.state.ManifestStore.TableCommit("daily", day,
                Seq("order_date"), "order_date")),
            graft.state.ManifestStore.RowMerge(graft.operators.Upsert.upsert))
        }
      }
      tagged.unpersist()
    }

    if (sections("crawl2")) {
      for (i <- 1 to 2) {
        spark.catalog.clearCache(); graft.util.Caches.clear()
        val fetched = EntryFixtures.crawlFetchedPages(spark, sfDir)
        val blobs = graft.operators.Crawl
          .plantWetBytes(fetched, "doc_id", "html", gzipRecords = true)
          .unionByName(graft.operators.Crawl
            .plantWetBytes(fetched.filter(col("doc_id") % 8 === 0), "doc_id",
              "html", files = 1, gzipRecords = true)
            .select(lit(8L).as("file_id"), col("content")))
        val stage = graft.util.Scratch.dir("p18_crawl_in")
        t(s"crawl2: stage 9 wet files #$i")(
          EntryFixtures.stageByFileId(blobs, stage, 0L to 8L))
        val (work, cp) = (graft.util.Scratch.dir("p18_crawl_work"),
          graft.util.Scratch.dir("p18_crawl_cp"))
        val schema = spark.read.parquet(s"$stage/f0").schema
        t(s"crawl2: drain 9 gz triggers #$i") {
          import org.apache.spark.sql.streaming.Trigger
          val q = graft.streaming.WetStream.writerGz(
              spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(s"$stage/f*"),
              work, cp)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        t(s"crawl2: compact #$i")(
          graft.streaming.WetStream.compact(spark, work, upToBatch = 9L))
        t(s"crawl2: curate+pack #$i")(
          EntryFixtures.crawlCurationRun(spark, sfDir,
            graft.streaming.WetStream.records(spark, work)).packed.count())
        spark.catalog.clearCache(); graft.util.Caches.clear()
        t(s"crawl2: pipeline_crawl_corpus (batch) #$i")(
          SparkEntry.queries("pipeline_crawl_corpus")(spark, sfDir).count())
      }
    }

    if (sections("near2")) {
      val docs = EntryFixtures.docsWithPlantedDups(spark, sfDir)
      SparkEntry.queries("dedup_near")(spark, sfDir).count() // warm memo
      for (i <- 1 to 2) {
        spark.catalog.clearCache()
        val banded = Dedup.bandSignaturesPortable(
          Dedup.minhashSignaturesPortable(docs, "doc_id", "text", 16),
          "doc_id", 16, 4).persist()
        t(s"near2: banded materialize #$i")(banded.count())
        val cands = Dedup.lshCandidates(banded, "doc_id", 10000).persist()
        t(s"near2: cands materialize #$i")(cands.count())
        val verified = Dedup.jaccardVerify(cands, docs, "doc_id", "text")
          .filter(col("jaccard") >= 0.5)
        t(s"near2: verify (cand-grain sets) #$i")(verified.count())
        banded.unpersist(); cands.unpersist()
        spark.catalog.clearCache()
        t(s"near2: full dedup_near #$i")(
          SparkEntry.queries("dedup_near")(spark, sfDir).count())
      }
    }

    if (sections("contained2")) {
      val base = Tables.documents(spark, sfDir).select("doc_id", "text")
      // mirror the dedup_contained_recall fixture's planted excerpts
      val planted = base.filter(col("doc_id") < 500)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          substring(col("text"), 1, 120).as("text"))
      val docs = base.unionByName(planted)
      for (i <- 1 to 2) {
        spark.catalog.clearCache(); graft.util.Caches.clear()
        val sh = docs
          .select(col("doc_id").as("__sid"),
            graft.functions.Text.tokens(col("text")).as("__toks"))
          .select(col("__sid"), explode(array_distinct(
            graft.functions.Text.shinglesFromTokens(col("__toks"), 3))).as("__shs"))
          .select(col("__sid"), xxhash64(col("__shs")).as("__sh"))
          .persist()
        t(s"contained2: sh materialize #$i")(println(s"[p18]   sh rows = ${sh.count()}"))
        val rare = sh.join(
          sh.groupBy(col("__sh")).agg(count(lit(1)).as("__df"))
            .filter(col("__df") <= 50).select(col("__sh")), Seq("__sh"))
        val a = rare.select(col("__sh"), col("__sid").as("id_a"))
        val b = rare.select(col("__sh"), col("__sid").as("id_b"))
        val cands = a.join(b, Seq("__sh")).filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b")).distinct().persist()
        t(s"contained2: cands materialize #$i")(println(s"[p18]   cands = ${cands.count()}"))
        t(s"contained2: raw pair volume #$i")(println(s"[p18]   raw pairs = ${
          a.join(b, Seq("__sh")).filter(col("id_a") < col("id_b")).count()}"))
        sh.unpersist(); cands.unpersist()
        t(s"contained2: full query #$i")(
          SparkEntry.queries("dedup_contained_recall")(spark, sfDir).count())
      }
    }

    if (sections("stann2")) {
      // stepwise refit cost on a prepared 3-batch store (mirrors
      // AnnStream.ingestBatch's refit leg with public APIs)
      val e = EntryFixtures.embDouble(spark, sfDir)
        .select(col("vec_id"), col("emb_d").as("embedding"))
      val work = graft.util.Scratch.dir("p18_stann2")
      (0L to 2L).foreach { j =>
        e.filter(col("vec_id") % 4 === j).withColumn("batch", lit(j))
          .write.mode("overwrite").parquet(s"$work/vectors/batch=$j")
      }
      for (i <- 1 to 2) {
        spark.catalog.clearCache(); graft.util.Caches.clear()
        val all = spark.read
          .schema("vec_id LONG, embedding ARRAY<DOUBLE>, batch LONG")
          .parquet(s"$work/vectors")
          .select("vec_id", "embedding")
        t(s"stann2: store count #$i")(all.count())
        val withCells = t(s"stann2: kmeansCellsAttach(8,2) #$i") {
          val w = graft.operators.Similarity.kmeansCellsAttach(all, 8, 2).persist()
          w.count(); w
        }
        t(s"stann2: write assign snapshot #$i")(
          withCells.select(col("vec_id"), col("cell"))
            .write.mode("overwrite").parquet(s"$work/assign_p/batch=$i"))
        t(s"stann2: centroids agg+write #$i")(
          graft.operators.Similarity.centroids(withCells, "cell")
            .write.mode("overwrite").parquet(s"$work/centroids_p/batch=$i"))
        withCells.unpersist()
        t(s"stann2: anti-join fresh vs store #$i")(
          e.filter(col("vec_id") % 4 === 3)
            .join(all.select("vec_id"), Seq("vec_id"), "left_anti").count())
      }
    }

    if (sections("jointm2")) {
      val stage = graft.util.Scratch.dir("p18_stjm2_in")
      EntryFixtures.enriched(spark, sfDir).select(col("order_id"),
          col("user_id"), col("product_id"), col("category"),
          col("sale_price"), col("is_returned"), col("order_date"))
        .write.mode("overwrite").parquet(stage)
      val batchDf = spark.read.parquet(stage)
      for (i <- 1 to 2) {
        spark.catalog.clearCache(); graft.util.Caches.clear()
        val tagged = t(s"jointm2: stateful fold (batch mode) #$i") {
          val d = graft.streaming.JointKpis.stream(batchDf).toDF().persist()
          d.count(); d
        }
        val cat = tagged.filter(col("table") === "category")
          .select("category", "order_date", "daily_revenue", "avg_order_value",
            "avg_return_rate")
        val day = tagged.filter(col("table") === "daily")
          .select("order_date", "total_orders", "total_revenue",
            "total_items_sold", "return_rate", "unique_customers")
        val out = graft.util.Scratch.dir(s"p18_stjm2_out$i")
        t(s"jointm2: day plain write (no partitionBy) #$i")(
          day.coalesce(1).write.mode("overwrite").parquet(s"$out/day0"))
        t(s"jointm2: day partitionBy repart(col) #$i")(
          day.repartition(col("order_date")).write.mode("overwrite")
            .partitionBy("order_date").parquet(s"$out/day1"))
        t(s"jointm2: day partitionBy repart(32,col) #$i")(
          day.repartition(32, col("order_date")).write.mode("overwrite")
            .partitionBy("order_date").parquet(s"$out/day2"))
        t(s"jointm2: day partitionBy repart(32,col)+committerV2 #$i")(
          day.repartition(32, col("order_date")).write.mode("overwrite")
            .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
            .partitionBy("order_date").parquet(s"$out/day3"))
        t(s"jointm2: read back day1 #$i")(
          spark.read.parquet(s"$out/day1").count())
        tagged.unpersist()
      }
    }

    if (sections("lmbkt")) {
      val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      for (i <- 1 to 2) {
        spark.catalog.clearCache(); graft.util.Caches.clear()
        t(s"lmbkt: full t_lm_buckets #$i")(
          SparkEntry.queries("t_lm_buckets")(spark, sfDir).count())
        t(s"lmbkt: unigram score leg #$i")(
          graft.operators.LanguageModel.unigramScore(
            docs.filter(col("doc_id") % 2 === 0), docs, "doc_id", "text").count())
      }
    }
    spark.stop()
  }
}

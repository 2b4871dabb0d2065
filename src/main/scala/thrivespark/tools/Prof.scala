package thrivespark.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Ad-hoc stage profiler: times each stage of a pipeline op at a given sf.
  * Usage: tools/run.sh thrivespark.tools.Prof <sfDir> <what>  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = if (args.length > 1) args(1) else "dedup"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  -> $r")
      r
    }

    what match {
      case "dedup" =>
        import thrivespark.ops.Dedup._
        val docs = time("shingleDocs.count")(shingleDocs(spark, sfDir).count())
        val docsDf = shingleDocs(spark, sfDir)
        time("signatures.count")(signatures(docsDf).count())
        val banded = bandBuckets(docsDf)
        time("bandBuckets.count")(banded.count())
        val cands = candidatePairs(banded)
        time("candidatePairs.count")(cands.count())
        time("nearDupPairs.count")(nearDupPairs(spark, sfDir, 0.6).count())
        time("nearDupPairs2.count")(nearDupPairs(spark, sfDir, 0.6).count())
        println(s"docs=$docs")
      case "dedup3" =>
        import thrivespark.ops.Dedup._
        val docs = shingleDocs(spark, sfDir)
        time("warmup docs.count A")(docs.count())
        time("warmup docs.count B")(docs.count())
        time("bandBuckets 1st")(bandBuckets(docs).count())
        time("bandBuckets 2nd")(bandBuckets(docs).count())
        time("bandBuckets 3rd")(bandBuckets(docs).count())
        val c = candidatePairs(bandBuckets(docs))
        time("cands 1st")(c.count())
        time("cands 2nd")(c.count())
      case "simhash" =>
        import org.apache.spark.sql.functions._
        import thrivespark.ops.Dedup
        val fps = Dedup.simhashDocs(spark, sfDir)
        val near = thrivespark.Registry.queries("dedup_near_minhash")(spark, sfDir)
        val fa = fps.select(col("doc_id").as("a_id"), col("fp").as("a_fp"))
        val fb = fps.select(col("doc_id").as("b_id"), col("fp").as("b_fp"))
        println("planted-pair hamming distances:")
        near.join(fa, "a_id").join(fb, "b_id")
          .select(col("a_id"), col("b_id"),
            bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).as("h"))
          .groupBy(col("h")).count().orderBy(col("h")).show(30)
        println("random-pair hamming (sample):")
        fa.join(fb, col("a_id") === col("b_id") - 250)
          .select(bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).as("h"))
          .groupBy(col("h")).count().orderBy(col("h")).show(50)
      case "compact" =>
        val dir = "/tmp/prof_compact_data"
        thrivespark.Tables.events(spark, sfDir).repartition(20)
          .write.mode("overwrite").parquet(dir)
        val r = thrivespark.ops.Compaction.compact(spark, dir, 64L * 1024 * 1024)
        println(s"[prof] compact: $r reread=${spark.read.parquet(dir).count()}")
      case "ngram" =>
        import thrivespark.ops.Dedup
        import org.apache.spark.sql.functions._
        val tau = 0.6
        val docs = Dedup.shingleDocs(spark, sfDir)
        time("shingles")(docs.count())
        val posts = docs.select(col("doc_id"), explode(col("shl")).as("h"))
        time("posts")(posts.count())
        val freqs = posts.groupBy(col("h")).agg(count(lit(1)).as("df"))
        time("freqs")(freqs.count())
        val pref = posts.join(freqs, "h")
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ord"))
          .select(col("doc_id"), size(col("ord")).as("sz"), posexplode(expr(
            s"slice(ord, 1, cast(size(ord) - ceil($tau * size(ord)) + 1 as int))"))
            .as(Seq("pos0", "p")))
          .select(col("doc_id"), col("sz"), (col("pos0") + 1).as("pos"),
            col("p.h").as("h"))
        time("prefix postings")(pref.count())
        val bare = pref.as("x")
          .join(pref.as("y"), col("x.h") === col("y.h") &&
            col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id")).distinct()
        time("candidates (no filters)")(bare.count())
        val cands = pref.as("x")
          .join(pref.as("y"), col("x.h") === col("y.h") &&
            col("x.doc_id") < col("y.doc_id") &&
            least(col("x.sz"), col("y.sz")).cast("double") >=
              lit(tau) * greatest(col("x.sz"), col("y.sz")) &&
            (lit(1) + least(col("x.sz") - col("x.pos"),
              col("y.sz") - col("y.pos"))).cast("double") >=
              lit(tau / (1 + tau)) * (col("x.sz") + col("y.sz")))
          .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id")).distinct()
        time("candidates (filtered)")(cands.count())
        time("full query")(thrivespark.Registry.queries("dedup_ngram_jaccard")(spark, sfDir).count())
        time("full query warm")(thrivespark.Registry.queries("dedup_ngram_jaccard")(spark, sfDir).count())

      case "buckets" =>
        import thrivespark.ops.Dedup._
        import org.apache.spark.sql.functions._
        val banded = bandBuckets(shingleDocs(spark, sfDir))
        val sizes = banded.groupBy(col("band"), col("bkey")).count()
        sizes.groupBy(col("count").as("bucket_size")).count()
          .orderBy(col("bucket_size").desc).show(20, false)
      case "pipeline" =>
        import thrivespark.ops.Pipeline
        val surv = Pipeline.survivors(spark, sfDir)
        time("survivors (dedup+persist)")(surv.count())
        time("gatedSurvivors")(Pipeline.gatedSurvivors(spark, sfDir).count())
        time("full op COLD")(
          thrivespark.Registry.queries("pipeline_corpus_e2e")(spark, sfDir).count())
        time("full op warm")(
          thrivespark.Registry.queries("pipeline_corpus_e2e")(spark, sfDir).count())
      case "gateprof" =>
        import thrivespark.ops.{Pipeline, Text}
        import org.apache.spark.sql.functions._
        val surv = Pipeline.survivors(spark, sfDir)
        time("survivors persist")(surv.count())
        val base = surv.select(col("doc_id"), size(col("ts")).as("n_tokens"),
          (size(filter(col("ts"), t => t === "the" || t === "a")).cast("double")
            / size(col("ts")) > 0.05).as("lang_ok"),
          (size(col("ts")) >= 20).as("len_ok"))
        time("base flags")(base.count())
        val grams = transform(sequence(lit(1), size(col("ts")) - 1),
          i => concat_ws(" ", element_at(col("ts"), i), element_at(col("ts"), i + 1)))
        val rep = surv.filter(size(col("ts")) >= 2)
          .select(col("doc_id"), explode(grams).as("gram"))
          .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_grams"), count(lit(1)).as("n_distinct"))
        time("rep (bigram explode)")(rep.count())
        time("lmScores")(Text.lmScores(surv).count())
        time("gate total")(Pipeline.gatedSurvivorsOf(surv).count())
        time("full op warm")(
          thrivespark.Registry.queries("pipeline_corpus_e2e")(spark, sfDir).count())
      case "benchlike" =>
        // mimic graft.Bench's conditions for dedup_ngram_jaccard: run the
        // registry-order predecessors first (shingle persist + similar
        // codegen shapes warm), then time the op's first execution
        Seq("dedup_exact", "dedup_near_minhash", "dedup_pipeline_survivors",
            "dedup_clusters", "dedup_simhash").foreach { k =>
          time(k)(thrivespark.Registry.queries(k)(spark, sfDir).count())
        }
        time("dedup_ngram_jaccard COLD")(
          thrivespark.Registry.queries("dedup_ngram_jaccard")(spark, sfDir).count())
        time("dedup_ngram_jaccard warm")(
          thrivespark.Registry.queries("dedup_ngram_jaccard")(spark, sfDir).count())
      case "bpeprof" =>
        import org.apache.spark.sql.functions._
        val docs = thrivespark.Tables.documents(spark, sfDir)
          .filter(col("doc_id") % 5 === 0)
        val corpus = thrivespark.ops.Text.bpeCorpus(docs).persist()
        time("corpus count")(corpus.count())
        val t = split(expr("substring(s, 2, length(s) - 2)"), "\u001f\u001f")
        def pairCount() = corpus.select(t.as("t"))
          .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
            i => struct(element_at(col("t"), i).as("l"),
              element_at(col("t"), i + 1).as("r")))).as("p"))
          .groupBy(col("p.l"), col("p.r")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc).limit(1).head()
        time("paircount 1")(pairCount())
        time("paircount 2")(pairCount())
        time("paircount 3")(pairCount())
        val rewritten = corpus.withColumn("s",
          replace(col("s"), lit("a"), lit("a")))
          .localCheckpoint(false)
        time("rewrite+ckpt")(rewritten.count())
        time("train 2 iters")(thrivespark.ops.Text.bpeTrain(docs, 2)._1.size)
        time("train 8 iters")(thrivespark.ops.Text.bpeTrain(docs, 8)._1.size)

      case "rag" =>
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.Column
        val docs = thrivespark.Tables.documents(spark, sfDir)
        val C = 32; val S = 24
        val bucket = (w: Column) =>
          conv(substring(md5(w), 1, 6), 16, 10).cast("long") % 64
        val lastChunk = floor((size(col("ts")) - 1) / lit(S)).cast("int")
        val chunkArrs = transform(sequence(lit(0), lastChunk),
          i => slice(col("ts"), i * lit(S) + lit(1), lit(C)))
        val cfPlan = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
          .select(col("doc_id"), posexplode(chunkArrs).as(Seq("chunk_id", "cts")))
          .select(col("doc_id"), col("chunk_id"), explode(col("cts")).as("w"))
          .select(col("doc_id"), col("chunk_id"), bucket(col("w")).as("bucket"))
          .groupBy(col("doc_id"), col("chunk_id"), col("bucket"))
          .agg(count(lit(1)).as("tf"))
        time("cf build+ckpt")(cfPlan.localCheckpoint(true).count())
        val cf = cfPlan.localCheckpoint(true)
        time("qf build+ckpt")(
          thrivespark.ops.Text.hashedBuckets(docs.filter(col("doc_id") % 50 === 0))
            .localCheckpoint(true).count())
        val qf = thrivespark.ops.Text.hashedBuckets(docs.filter(col("doc_id") % 50 === 0))
          .localCheckpoint(true)
        val dots = qf.select(col("doc_id").as("q_id"), col("bucket"), col("tf").as("q_tf"))
          .join(cf.select(col("doc_id").as("c_id"), col("chunk_id"), col("bucket"), col("tf")),
            Seq("bucket"))
          .filter(col("q_id") =!= col("c_id"))
        time("dot join rows")(dots.count())
        val grouped = dots.groupBy(col("q_id"), col("c_id"), col("chunk_id"))
          .agg(sum(col("q_tf") * col("tf")).as("dot"))
        time("grouped pairs")(grouped.count())
        time("full op 1 (noop)")(thrivespark.Registry.queries("pipeline_rag_retrieval")(spark, sfDir)
          .write.mode("overwrite").format("noop").save())
        time("full op 2 (noop)")(thrivespark.Registry.queries("pipeline_rag_retrieval")(spark, sfDir)
          .write.mode("overwrite").format("noop").save())

      case "rag2" =>
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.Column
        val docs = thrivespark.Tables.documents(spark, sfDir)
        val C = 32; val S = 24
        val bucket = (w: Column) =>
          conv(substring(md5(w), 1, 6), 16, 10).cast("long") % 64
        // codegen chunking: token -> its 1..ceil(C/S) chunk ids arithmetically
        val toks = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
          .select(col("doc_id"), floor((size(col("ts")) - 1) / lit(S)).cast("long").as("last"),
            posexplode(col("ts")).as(Seq("p0", "w")))
          .select(col("doc_id"), col("last"), (col("p0") + 1).as("p"), bucket(col("w")).as("bucket"))
        val iLo = greatest(lit(0L), expr(s"(p - $C + $S - 1) div $S"))
        val iHi = least(col("last"), expr(s"(p - 1) div $S"))
        val cfSparse = toks
          .select(col("doc_id"), col("bucket"), explode(sequence(iLo, iHi)).as("chunk_id"))
          .groupBy(col("doc_id"), col("chunk_id"), col("bucket"))
          .agg(count(lit(1)).as("tf"))
        val dense = (g: org.apache.spark.sql.RelationalGroupedDataset) => g
          .agg(map_from_entries(collect_list(struct(col("bucket"), col("tf")))).as("m"))
          .select(col("*"), transform(sequence(lit(0L), lit(63L)),
            b => coalesce(element_at(col("m"), b), lit(0L))).as("vec"))
          .withColumn("nrm", aggregate(col("vec"), lit(0L), (a, x) => a + x * x))
          .drop("m")
        val cfd = dense(cfSparse.groupBy(col("doc_id"), col("chunk_id")))
        time("cf dense build")(cfd.count())
        val qvd = dense(thrivespark.ops.Text.hashedBuckets(
            docs.filter(col("doc_id") % 50 === 0)).groupBy(col("doc_id")))
          .select(col("doc_id").as("q_id"), col("vec").as("qvec"), col("nrm").as("q_nrm"))
        time("qv dense build")(qvd.count())
        val dots = cfd.join(broadcast(qvd), col("q_id") =!= col("doc_id"))
          .select(col("q_id"), col("doc_id").as("c_id"), col("chunk_id"),
            col("q_nrm"), col("nrm").as("c_nrm"),
            aggregate(zip_with(col("qvec"), col("vec"), (a, b) => a * b),
              lit(0L), (a, x) => a + x).as("dot"))
          .filter(col("dot") > 0)
        time("dots map-side")(dots.count())
        val sc = dots.withColumn("sim_micro", expr("(1000000 * dot * dot) div (q_nrm * c_nrm)"))
        val wBest = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id"), col("c_id")).orderBy(col("sim_micro").desc, col("chunk_id"))
        val wRank = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col("sim_micro").desc, col("c_id"))
        val out = sc.withColumn("brn", row_number().over(wBest)).filter(col("brn") === 1)
          .withColumn("rn", row_number().over(wRank)).filter(col("rn") <= 3)
          .select(col("q_id"), col("c_id"), col("chunk_id").as("best_chunk"),
            col("dot"), col("sim_micro"), col("rn"))
          .orderBy(col("q_id"), col("rn"))
        time("full dense 1 (noop)")(out.write.mode("overwrite").format("noop").save())
        // compare against current op output
        val cur = thrivespark.Registry.queries("pipeline_rag_retrieval")(spark, sfDir)
        time("diff vs current")(println("DIFF=" + out.exceptAll(cur).count() + "," + cur.exceptAll(out).count()))

      case "rag3" =>
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.Column
        val docs = thrivespark.Tables.documents(spark, sfDir)
        val C = 32; val S = 24
        val bucket = (w: Column) =>
          conv(substring(md5(w), 1, 6), 16, 10).cast("long") % 64
        val toks = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
          .select(col("doc_id"), floor((size(col("ts")) - 1) / lit(S)).cast("long").as("last"),
            posexplode(col("ts")).as(Seq("p0", "w")))
          .select(col("doc_id"), col("last"), (col("p0") + 1).as("p"), bucket(col("w")).as("bucket"))
        time("toks")(toks.count())
        val iLo = greatest(lit(0L), expr(s"(p - $C + $S - 1) div $S"))
        val iHi = least(col("last"), expr(s"(p - 1) div $S"))
        val ctb = toks.select(col("doc_id"), col("bucket"),
          explode(sequence(iLo, iHi)).as("chunk_id"))
        time("chunk-token rows")(ctb.count())
        val cfSparse = ctb.groupBy(col("doc_id"), col("chunk_id"), col("bucket"))
          .agg(count(lit(1)).as("tf"))
        time("cfSparse")(cfSparse.count())
        val dense = (g: org.apache.spark.sql.RelationalGroupedDataset) => g
          .agg(map_from_entries(collect_list(struct(col("bucket"), col("tf")))).as("m"))
          .select(col("*"), transform(sequence(lit(0L), lit(63L)),
            b => coalesce(element_at(col("m"), b), lit(0L))).as("vec"))
          .withColumn("nrm", aggregate(col("vec"), lit(0L), (a, x) => a + x * x))
          .drop("m")
        val cfd = dense(cfSparse.groupBy(col("doc_id"), col("chunk_id"))).localCheckpoint(true)
        time("cf dense+ckpt")(cfd.count())
        val qvd = dense(thrivespark.ops.Text.hashedBuckets(
            docs.filter(col("doc_id") % 50 === 0)).groupBy(col("doc_id")))
          .select(col("doc_id").as("q_id"), col("vec").as("qvec"), col("nrm").as("q_nrm"))
          .localCheckpoint(true)
        time("qv dense+ckpt")(qvd.count())
        // unrolled codegen dot: 64 element_at products
        val dotExpr = (0 until 64).map(i =>
          element_at(col("qvec"), i + 1) * element_at(col("vec"), i + 1)).reduce(_ + _)
        val dots = cfd.join(broadcast(qvd), col("q_id") =!= col("doc_id"))
          .select(col("q_id"), col("doc_id").as("c_id"), col("chunk_id"),
            col("q_nrm"), col("nrm").as("c_nrm"), dotExpr.as("dot"))
          .filter(col("dot") > 0)
        time("dots unrolled")(dots.count())
        val sc = dots.withColumn("sim_micro", expr("(1000000 * dot * dot) div (q_nrm * c_nrm)"))
        val wBest = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id"), col("c_id")).orderBy(col("sim_micro").desc, col("chunk_id"))
        val wRank = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col("sim_micro").desc, col("c_id"))
        val out = sc.withColumn("brn", row_number().over(wBest)).filter(col("brn") === 1)
          .withColumn("rn", row_number().over(wRank)).filter(col("rn") <= 3)
          .select(col("q_id"), col("c_id"), col("chunk_id").as("best_chunk"),
            col("dot"), col("sim_micro"), col("rn"))
          .orderBy(col("q_id"), col("rn"))
        time("windows+sort (noop)")(out.write.mode("overwrite").format("noop").save())
        val cur = thrivespark.Registry.queries("pipeline_rag_retrieval")(spark, sfDir)
        time("diff vs current")(println("DIFF=" + out.exceptAll(cur).count() + "," + cur.exceptAll(out).count()))

      case "rag4" =>
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.Column
        thrivespark.functions.Register(spark)
        val docs = thrivespark.Tables.documents(spark, sfDir)
        val C = 32; val S = 24
        val bucket = (w: Column) =>
          conv(substring(md5(w), 1, 6), 16, 10).cast("long") % 64
        val toks = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
          .select(col("doc_id"), floor((size(col("ts")) - 1) / lit(S)).cast("long").as("last"),
            posexplode(col("ts")).as(Seq("p0", "w")))
          .select(col("doc_id"), col("last"), (col("p0") + 1).as("p"), bucket(col("w")).as("bucket"))
        val iLo = greatest(lit(0L), expr(s"(p - $C + $S - 1) div $S"))
        val iHi = least(col("last"), expr(s"(p - 1) div $S"))
        val cfSparse = toks
          .select(col("doc_id"), col("bucket"), explode(sequence(iLo, iHi)).as("chunk_id"))
          .groupBy(col("doc_id"), col("chunk_id"), col("bucket"))
          .agg(count(lit(1)).as("tf"))
        val dense = (g: org.apache.spark.sql.RelationalGroupedDataset) => g
          .agg(map_from_entries(collect_list(struct(col("bucket"), col("tf")))).as("m"))
          .select(col("*"), transform(sequence(lit(0L), lit(63L)),
            b => coalesce(element_at(col("m"), b), lit(0L))).as("vec"))
          .withColumn("nrm", call_function("vec_dot_long", col("vec"), col("vec")))
          .drop("m")
        val cfd = dense(cfSparse.groupBy(col("doc_id"), col("chunk_id")))
        val qvd = dense(thrivespark.ops.Text.hashedBuckets(
            docs.filter(col("doc_id") % 50 === 0)).groupBy(col("doc_id")))
          .select(col("doc_id").as("q_id"), col("vec").as("qvec"), col("nrm").as("q_nrm"))
        val dots = cfd.join(broadcast(qvd), col("q_id") =!= col("doc_id"))
          .select(col("q_id"), col("doc_id").as("c_id"), col("chunk_id"),
            col("q_nrm"), col("nrm").as("c_nrm"),
            call_function("vec_dot_long", col("qvec"), col("vec")).as("dot"))
          .filter(col("dot") > 0)
          .withColumn("sim_micro", expr(
            """CAST((CAST(1000000 AS DECIMAL(38,0)) * dot * dot)
              | DIV (CAST(q_nrm AS DECIMAL(38,0)) * c_nrm) AS BIGINT)""".stripMargin))
        time("dots codegen")(dots.count())
        // per-(q,c) argmax chunk via hash agg (map-side combinable, no sort)
        val best = dots.groupBy(col("q_id"), col("c_id"))
          .agg(max(struct(col("sim_micro"), (-col("chunk_id")).as("negc"),
            col("chunk_id"), col("dot"))).as("b"))
          .select(col("q_id"), col("c_id"), col("b.chunk_id").as("best_chunk"),
            col("b.dot").as("dot"), col("b.sim_micro").as("sim_micro"))
        val wRank = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col("sim_micro").desc, col("c_id"))
        val out = best.withColumn("rn", row_number().over(wRank)).filter(col("rn") <= 3)
          .select(col("q_id"), col("c_id"), col("best_chunk"),
            col("dot"), col("sim_micro"), col("rn"))
          .orderBy(col("q_id"), col("rn"))
        time("full rag4 1 (noop)")(out.write.mode("overwrite").format("noop").save())
        time("full rag4 2 (noop)")(out.write.mode("overwrite").format("noop").save())
        val cur = thrivespark.Registry.queries("pipeline_rag_retrieval")(spark, sfDir)
        time("diff vs current")(println("DIFF=" + out.exceptAll(cur).count() + "," + cur.exceptAll(out).count()))

      case "rag5" =>
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.Column
        thrivespark.functions.Register(spark)
        val docs = thrivespark.Tables.documents(spark, sfDir)
        val C = 32; val S = 24
        val bucket = (w: Column) =>
          conv(substring(md5(w), 1, 6), 16, 10).cast("long") % 64
        val toks = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
          .select(col("doc_id"),
            floor((size(col("ts")) - 1) / lit(S)).cast("long").as("last"),
            posexplode(col("ts")).as(Seq("p0", "w")))
          .select(col("doc_id"), col("last"), (col("p0") + 1).as("p"),
            bucket(col("w")).as("bucket"))
        val iLo = greatest(lit(0L), expr(s"(p - $C + $S - 1) div $S"))
        val iHi = least(col("last"), expr(s"(p - 1) div $S"))
        val ctb = toks.select(col("doc_id"), col("bucket"),
          explode(sequence(iLo, iHi)).as("chunk_id"))
        val cfSparse = ctb.groupBy(col("doc_id"), col("chunk_id"), col("bucket"))
          .agg(count(lit(1)).as("tf"))
        val cfd = thrivespark.ops.Text.hashedDense(
          cfSparse.groupBy(col("doc_id"), col("chunk_id")))
        time("warm trivial")(docs.count())
        time("toks")(toks.count())
        time("toks again")(toks.count())
        time("ctb (cum)")(ctb.count())
        time("cfSparse (cum)")(cfSparse.count())
        time("cfd (cum)")(cfd.count())
        time("full op (noop)")(thrivespark.Registry.queries("pipeline_rag_retrieval")(spark, sfDir)
          .write.mode("overwrite").format("noop").save())
        time("full op again")(thrivespark.Registry.queries("pipeline_rag_retrieval")(spark, sfDir)
          .write.mode("overwrite").format("noop").save())

      case "rag6" =>
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.Column
        thrivespark.functions.Register(spark)
        val docs = thrivespark.Tables.documents(spark, sfDir)
        val C = 32; val S = 24
        val bucket = (w: Column) =>
          conv(substring(md5(w), 1, 6), 16, 10).cast("long") % 64
        val toks = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
          .select(col("doc_id"),
            floor((size(col("ts")) - 1) / lit(S)).cast("long").as("last"),
            posexplode(col("ts")).as(Seq("p0", "w")))
          .select(col("doc_id"), col("last"), (col("p0") + 1).as("p"),
            bucket(col("w")).as("bucket"))
        val iLo = greatest(lit(0L), expr(s"(p - $C + $S - 1) div $S"))
        val iHi = least(col("last"), expr(s"(p - 1) div $S"))
        val cfd = thrivespark.ops.Text.hashedDense(toks
          .select(col("doc_id"), col("bucket"), explode(sequence(iLo, iHi)).as("chunk_id"))
          .groupBy(col("doc_id"), col("chunk_id"), col("bucket"))
          .agg(count(lit(1)).as("tf"))
          .groupBy(col("doc_id"), col("chunk_id"))).localCheckpoint(true)
        val qvd = thrivespark.ops.Text.hashedDense(thrivespark.ops.Text.hashedBuckets(
            docs.filter(col("doc_id") % 50 === 0)).groupBy(col("doc_id")))
          .select(col("doc_id").as("q_id"), col("vec").as("qvec"), col("nrm").as("q_nrm"))
          .localCheckpoint(true)
        time("ckpt inputs")(cfd.count() + qvd.count())
        val dotsBase = cfd.join(broadcast(qvd), col("q_id") =!= col("doc_id"))
          .select(col("q_id"), col("doc_id").as("c_id"), col("chunk_id"),
            col("q_nrm"), col("nrm").as("c_nrm"),
            call_function("vec_dot_long", col("qvec"), col("vec")).as("dot"))
          .filter(col("dot") > 0)
        time("dots only")(dotsBase.count())
        time("dots only 2")(dotsBase.count())
        val simDec = dotsBase.withColumn("sim_micro", expr(
          """CAST((CAST(1000000 AS DECIMAL(38,0)) * dot * dot)
            | DIV (CAST(q_nrm AS DECIMAL(38,0)) * c_nrm) AS BIGINT)""".stripMargin))
        val simLong = dotsBase.withColumn("sim_micro",
          expr("(1000000 * dot * dot) div (q_nrm * c_nrm)"))
        time("sim DECIMAL")(simDec.agg(sum(col("sim_micro"))).head())
        time("sim LONG")(simLong.agg(sum(col("sim_micro"))).head())
        time("sim DECIMAL 2")(simDec.agg(sum(col("sim_micro"))).head())
        time("sim LONG 2")(simLong.agg(sum(col("sim_micro"))).head())
        def tail(sc: org.apache.spark.sql.DataFrame) = {
          val best = sc.groupBy(col("q_id"), col("c_id"))
            .agg(max(struct(col("sim_micro"), (-col("chunk_id")).as("negc"),
              col("chunk_id"), col("dot"))).as("b"))
            .select(col("q_id"), col("c_id"), col("b.chunk_id").cast("int").as("best_chunk"),
              col("b.dot").as("dot"), col("b.sim_micro").as("sim_micro"))
          val wRank = org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id")).orderBy(col("sim_micro").desc, col("c_id"))
          best.withColumn("rn", row_number().over(wRank)).filter(col("rn") <= 3)
            .orderBy(col("q_id"), col("rn"))
        }
        time("tail(dec) noop")(tail(simDec).write.mode("overwrite").format("noop").save())
        time("tail(long) noop")(tail(simLong).write.mode("overwrite").format("noop").save())

      case "graph" =>
        import org.apache.spark.sql.functions._
        val docs = thrivespark.Tables.documents(spark, sfDir)
        def edges() = thrivespark.ops.Dedup.paragraphShareEdges(docs, 100)
        time("edge build 1")(edges().count())
        time("edge build 2")(edges().count())
        val e = edges().localCheckpoint(true)
        time("edges ckpt")(e.count())
        time("pagerank only (3 it)")(thrivespark.ops.Dedup.pagerankFrom(e, 3).count())
        time("pagerank only again")(thrivespark.ops.Dedup.pagerankFrom(e, 3).count())
        time("triangles only")(thrivespark.ops.Dedup.triangleCountsFrom(e).count())
        time("common neighbors only")(thrivespark.ops.Dedup.commonNeighborsFrom(e).count())
        def noopq(k: String) = thrivespark.Registry.queries(k)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        time("graph_pagerank full")(noopq("graph_pagerank"))
        time("dedup_canonical_rank full")(noopq("dedup_canonical_rank"))
        time("graph_triangle_count full")(noopq("graph_triangle_count"))
        time("graph_common_neighbors full")(noopq("graph_common_neighbors"))

      case "graphcache" =>
        val docs1 = thrivespark.Tables.documents(spark, sfDir)
        val docs2 = thrivespark.Tables.documents(spark, sfDir)
        println(s"[prof] docs same object: ${docs1 eq docs2}")
        val e1 = thrivespark.ops.Dedup.sharedParagraphEdges(docs1, 100)
        val t0 = System.nanoTime()
        val e2 = thrivespark.ops.Dedup.sharedParagraphEdges(docs2, 100)
        println(f"[prof] second call ${(System.nanoTime()-t0)/1e9}%.2f s, same object: ${e1 eq e2}")
        val r1 = thrivespark.ops.Dedup.pagerankFrom(e1, 3)
        val r2 = thrivespark.ops.Dedup.pagerankFrom(e2, 3)
        println(s"[prof] rank cache hit: ${r1 eq r2}")

      case "hashpair" =>
        def noopq(k: String) = thrivespark.Registry.queries(k)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        time("warm (scan_full)")(noopq("scan_full"))
        time("text_hash_embedding")(noopq("text_hash_embedding"))
        time("sim_doc_topk_hashed")(noopq("sim_doc_topk_hashed"))
        time("embedding again")(noopq("text_hash_embedding"))

      case "dotab" =>
        // definitive same-session A/B of the r18 tight-loop float dot vs
        // the r19 null-aware kernel on the sim_join_rewrite verify shape
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.catalyst.expressions.{Expression => CE}
        val reg = spark.sessionState.functionRegistry
        reg.createOrReplaceTempFunction("vec_dot_old",
          (es: Seq[CE]) => thrivespark.tools.VecDotOld(es(0), es(1)), "scala_udf")
        thrivespark.functions.Register(spark)
        val emb = thrivespark.Tables.embeddings(spark, sfDir)
        def q(fn: String) = {
          val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("e_a"))
          val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("e_b"))
          a.join(b.hint("broadcast"), expr(s"$fn(e_a, e_b) > 0.45") && col("a_id") < col("b_id"))
            .agg(count(lit(1)))
            .write.mode("overwrite").format("noop").save()
        }
        println("embeddings schema: " + emb.schema.map(f => f.dataType).mkString(", "))
        locally {
          val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("e_a"))
          val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("e_b"))
          val j = a.join(b.hint("broadcast"),
            expr("vec_dot(e_a, e_b) > 0.45") && col("a_id") < col("b_id"))
          val conds = j.queryExecution.analyzed.collect {
            case jn: org.apache.spark.sql.catalyst.plans.logical.Join => jn.condition }
          conds.flatten.foreach { c =>
            c.foreach {
              case v: thrivespark.functions.VecDot =>
                println(s"VecDot types: ${v.left.dataType} . ${v.right.dataType}, nullable=${v.nullable}")
              case _ => }
          }
        }
        for (_ <- 1 to 3) time("old tight-loop dot")(q("vec_dot_old"))
        for (_ <- 1 to 3) time("new null-aware dot")(q("vec_dot"))
        for (_ <- 1 to 3) time("old tight-loop dot")(q("vec_dot_old"))
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        for (_ <- 1 to 2) time("old dot, WSCG off")(q("vec_dot_old"))
        for (_ <- 1 to 2) time("new dot, WSCG off")(q("vec_dot"))
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        for (_ <- 1 to 2) time("old dot, interpreted exprs")(q("vec_dot_old"))
        for (_ <- 1 to 2) time("new dot, interpreted exprs")(q("vec_dot"))

      case "simjoin-codegen" =>
        val df = thrivespark.Registry.queries("sim_join_rewrite")(spark, sfDir)
        df.write.mode("overwrite").format("noop").save()
        println(org.apache.spark.sql.execution.debug.codegenString(
          df.queryExecution.executedPlan))
        println("=== FINAL PLAN ===")
        println(df.queryExecution.executedPlan.toString)

      case "embscan" =>
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types._
        val path = s"$sfDir/embeddings.parquet"
        def scan(df: org.apache.spark.sql.DataFrame) =
          df.select(sum(call_function("vec_dot", col("embedding"), col("embedding"))))
            .write.mode("overwrite").format("noop").save()
        thrivespark.functions.Register(spark)
        val footer = spark.read.parquet(path)
        val nn = spark.read.schema(StructType(Seq(
          StructField("vec_id", LongType, nullable = true),
          StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = true),
          StructField("label", IntegerType, nullable = true)))).parquet(path)
        for (_ <- 1 to 3) { time("footer schema scan+dot")(scan(footer)) }
        for (_ <- 1 to 3) { time("containsNull=false scan+dot")(scan(nn)) }

      case "annstream" =>
        // pristine-box replay in registry order: ingest stages the standing
        // artifacts at first touch, query serves against them
        def noopa(k: String) = thrivespark.Registry.queries(k)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        time("warm (scan_full)")(noopa("scan_full"))
        time("sim_ann_ivf")(noopa("sim_ann_ivf"))
        time("stream_ann_ingest COLD")(noopa("stream_ann_ingest"))
        time("stream_ann_query COLD")(noopa("stream_ann_query"))
        time("stream_ann_query warm")(noopa("stream_ann_query"))

      case "corpus" =>
        // bench-like replay: dedup-family predecessors warm the shingle +
        // pair caches (as in registry order), then corpus_e2e's first
        // timed run pays only its own survivor boundary + gate + pack
        def noopc(k: String) = thrivespark.Registry.queries(k)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        time("warm (scan_full)")(noopc("scan_full"))
        Seq("dedup_exact", "dedup_near_minhash", "dedup_pipeline_survivors",
            "dedup_clusters").foreach(k => time(k)(noopc(k)))
        time("pipeline_corpus_e2e COLD")(noopc("pipeline_corpus_e2e"))
        time("pipeline_corpus_e2e warm")(noopc("pipeline_corpus_e2e"))

      case "substr" =>
        // replay the substring family in bench-like order (noop sink = the
        // Bench action) to expose maxdf's first-touch cost: the capped
        // index + capped run table are maxdf-exclusive persists, so the
        // earlier family members warm only the base window index.
        def noops(k: String) = thrivespark.Registry.queries(k)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        time("warm (scan_full)")(noops("scan_full"))
        Seq("text_substring_dedup", "text_substring_exact",
            "text_substring_cut", "text_substring_coverage",
            "text_substring_incremental").foreach(k => time(k)(noops(k)))
        time("text_substring_maxdf COLD")(noops("text_substring_maxdf"))
        time("text_substring_maxdf warm")(noops("text_substring_maxdf"))

      case "plan-nobcast" =>
        // Capture a query's plan with broadcast demotion OFF: at bench SFs
        // every table fits under the broadcast thresholds, so AQE rewrites
        // shuffle-free SMJ shapes (join_bucketed) into BHJ and the captured
        // plan contradicts the at-scale caption. Disabling both thresholds
        // shows the shape a 100 TB fact table would get.
        val key = if (args.length > 2) args(2) else "join_bucketed"
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        val q2 = thrivespark.Registry.queries(key)(spark, sfDir)
        q2.count()
        println(q2.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      case q =>
        // bench-basis timing: noop-sink write (full-plan evaluation, the
        // graft.Bench action since r12) — count() would measure a pruned plan
        val fn = thrivespark.Registry.queries(q)
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.mode("overwrite").format("noop").save()
        time(s"$q run1 (noop)")(noop(fn(spark, sfDir)))
        time(s"$q run2 (noop)")(noop(fn(spark, sfDir)))
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}

/** Prof-only replica of the r18 tight-loop VecDot (pre null-handling) for
  * same-session A/B attribution — not registered by the library. */
case class VecDotOld(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(s"bad: $l, $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot_old"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0; var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
      s"""
        int $n = Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
        }
        ${ev.value} = $acc;
      """
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDotOld =
    copy(left = l, right = r)
}

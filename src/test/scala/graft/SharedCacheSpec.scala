package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import thrivespark.Shared

/** The session registry of shared intermediates (thrivespark.Shared):
  * re-deriving a shared frame returns the registered one, entries never
  * cross sessions and die with their session, `release` frees the storage
  * of every entry kind the same way, and no second cache mechanism grows
  * back under src/main/scala. */
class SharedCacheSpec extends AnyFunSuite {
  import SparkTestBase._

  private def classic =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  private def cached(df: DataFrame): Boolean =
    df.queryExecution.withCachedData.toString.contains("InMemoryRelation")

  private def inCacheManager(df: DataFrame): Boolean =
    spark.sharedState.cacheManager
      .lookupCachedData(classic, df.queryExecution.analyzed).isDefined

  private def persistentRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def checkpointRdd(df: DataFrame): Int =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      case p => fail(s"not checkpoint-backed:\n$p")
    }

  private def tag(key: Any): Any = key match {
    case p: Product => p.productElement(0)
    case k => k
  }

  private def releaseTag(t: String): Unit =
    Shared.release(spark) { case k => tag(k) == t }

  test("windowIndex dedupes storage across separately-built frames and " +
      "Shared.release uncaches it") {
    import spark.implicits._
    def docs() = Seq((1L, (0 until 20).map("w" + _).mkString(" ")),
      (2L, (5 until 25).map("w" + _).mkString(" "))).toDF("doc_id", "text")
    releaseTag("persisted")
    val idx1 = thrivespark.ops.Text.windowIndex(docs(), 8)
    assert(cached(idx1), "first derivation must be cache-backed")
    // independent construction of the SAME derivation: no new entry, the
    // plan resolves to the existing InMemoryRelation
    val idx2 = thrivespark.ops.Text.windowIndex(docs(), 8)
    assert(cached(idx2), "re-derivation must resolve to the cached entry")
    assert(idx1.collect().toSet == idx2.collect().toSet)
    // a DIFFERENT K is a different derivation — its own entry, both live
    val idx3 = thrivespark.ops.Text.windowIndex(docs(), 4)
    assert(cached(idx3) && idx3.count() > idx1.count())
    releaseTag("persisted")
    // after release the derivations' own plans no longer hit the cache
    Seq(idx1, idx3).foreach { idx =>
      assert(!inCacheManager(idx),
        "released derivation must not linger in the CacheManager")
    }
  }

  test("windowIndex called five times leaves ONE registry entry") {
    import spark.implicits._
    def docs() = Seq((1L, (0 until 30).map("v" + _).mkString(" ")),
      (2L, (3 until 33).map("v" + _).mkString(" "))).toDF("doc_id", "text")
    val before = Shared.keys(spark)
    val frames = (1 to 5).map(_ => thrivespark.ops.Text.windowIndex(docs(), 6))
    val added = Shared.keys(spark) -- before
    assert(added.size == 1, s"expected one entry, got ${added.size}: $added")
    assert(frames.forall(_ eq frames.head),
      "every call must return the registered frame")
    Shared.release(spark) { case k => added(k) }
  }

  test("filterFlags routes through the releasable registry (r13 advisory)") {
    import spark.implicits._
    def docs() = Seq((1L, ("the a " * 15).trim),
      (2L, (0 until 25).map("t" + _).mkString(" "))).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
    releaseTag("persisted")
    val f1 = thrivespark.ops.Text.filterFlags(docs())
    assert(cached(f1), "filterFlags must be cache-backed")
    val rows = f1.collect()
    assert(rows.nonEmpty)
    releaseTag("persisted")
    assert(!inCacheManager(f1), "release must uncache the flags")
    val f2 = thrivespark.ops.Text.filterFlags(docs())
    // re-derivable after release, same values
    assert(f2.collect().toSet == rows.toSet)
    releaseTag("persisted")
  }

  test("shared paragraph edges (r18): same frame object across the four " +
      "graph ops' derivations; rank cache hits on it; release re-derives") {
    import spark.implicits._
    def docs() = Seq(
      (1L, (0 until 20).map("p" + _).mkString(" ")),
      (2L, (0 until 20).map("p" + _).mkString(" ")),
      (3L, (40 until 60).map("q" + _).mkString(" "))).toDF("doc_id", "text")
    val graphTags = Set[Any]("paragraphEdges", "pagerank")
    Shared.release(spark) { case k => graphTags(tag(k)) }
    val e1 = thrivespark.ops.Dedup.sharedParagraphEdges(docs(), 100)
    val e2 = thrivespark.ops.Dedup.sharedParagraphEdges(docs(), 100)
    // the registry returns the SAME checkpointed frame — this identity is
    // what makes dedup_canonical_rank's rank lookup hit graph_pagerank's
    // cached result (the rank cache keys on the edge frame's plan)
    assert(e1 eq e2, "re-derivation must return the cached checkpointed frame")
    val r1 = thrivespark.ops.Dedup.pagerankFrom(e1, 3)
    val r2 = thrivespark.ops.Dedup.pagerankFrom(e2, 3)
    assert(r1 eq r2, "same edge frame + iters must hit the rank cache")
    // a different maxDf is a different derivation (the valve is part of
    // the edge definition)
    val e3 = thrivespark.ops.Dedup.sharedParagraphEdges(docs(), 1)
    assert(!(e3 eq e1) && e3.count() == 0L,
      "maxDf=1 drops the shared paragraph (df=2) - different artifact")
    // release frees e1's checkpoint, so read its rows first
    val rows1 = e1.collect().toSet
    Shared.release(spark) { case k => graphTags(tag(k)) }
    val e4 = thrivespark.ops.Dedup.sharedParagraphEdges(docs(), 100)
    assert(!(e4 eq e1), "release must drop the registry entry")
    assert(e4.collect().toSet == rows1,
      "re-derived edges must be value-identical")
    // the rank entry went with it: ranks over the re-derived edges rebuild
    assert(!(thrivespark.ops.Dedup.pagerankFrom(e4, 3) eq r1))
  }

  test("two live sessions never receive each other's entries") {
    val other = spark.newSession()
    val T = thrivespark.Tables
    val D = thrivespark.ops.Dedup
    def frames(s: SparkSession): Seq[(String, DataFrame)] = {
      val docs = T.documents(s, sf0001)
      val edges = D.sharedParagraphEdges(docs, 100)
      Seq(
        "table" -> docs,
        "eventsParsed" -> T.eventsParsed(s, sf0001),
        "shingles" -> D.shingleDocs(s, sf0001),
        "pairs" -> D.nearDupPairs(s, sf0001, 0.6),
        "persisted" -> thrivespark.ops.Text.windowIndex(docs, 8),
        "paragraphEdges" -> edges,
        "pagerank" -> D.pagerankFrom(edges, 3),
        "survivors" -> thrivespark.ops.Pipeline.survivors(s, sf0001))
    }
    val mine = frames(spark)
    assert(Shared.keys(other).isEmpty, "a fresh session starts with no entries")
    val theirs = frames(other)
    mine.zip(theirs).foreach { case ((kind, a), (_, b)) =>
      assert(!(a eq b), s"$kind: the other session received this session's frame")
      assert(a.sparkSession eq spark, s"$kind: frame of the wrong session")
      assert(b.sparkSession eq other, s"$kind: frame of the wrong session")
    }
    val otherTags = Shared.keys(other).map(tag)
    assert(mine.forall { case (kind, _) => otherTags.contains(kind) },
      s"the other session must hold its own entries: $otherTags")
    // driver-value entries: training on one session registers nothing on
    // the other
    val before = Shared.keys(spark)
    thrivespark.Registry.queries("text_bpe_train")(other, sf0001): Unit
    assert(Shared.keys(spark) == before)
    assert(Shared.keys(other).map(tag).contains("bpeMerges"))
  }

  test("a stopped session's entries are pruned, for every entry kind") {
    // Stopping the suite's shared SparkContext would end every later test,
    // so the probe runs in a child JVM: it registers one entry of every
    // kind, stops its session and reports what the registry still holds.
    import scala.jdk.CollectionConverters._
    import scala.sys.process._
    // this JVM's module opens and Spark flags, in either argument form
    val args = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val jvmFlags = args.zip(args.drop(1) :+ "").flatMap {
      case ("--add-opens", v) => Seq("--add-opens", v)
      case (a, _) if a.startsWith("--add-opens=") || a.startsWith("-Dspark.") => Seq(a)
      case _ => Nil
    }
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ jvmFlags ++
      Seq("-cp", sys.props("java.class.path"), "graft.SharedPruneProbe", sf0001)
    val out = new StringBuilder
    val err = new StringBuilder
    val code = Process(cmd).!(ProcessLogger(l => out.append(l).append('\n'),
      l => err.append(l).append('\n')))
    val lines = out.toString.linesIterator.filter(_.startsWith("[probe]")).toSeq
    assert(code == 0, s"probe JVM failed ($code):\n$out\n${err.takeRight(4000)}")
    val before = lines.collectFirst {
      case l if l.startsWith("[probe] before=") =>
        l.stripPrefix("[probe] before=").split(",").toSet
    }.getOrElse(fail(s"no probe output:\n$out"))
    assert(before == SharedPruneProbe.Kinds,
      s"probe must register every kind: missing ${SharedPruneProbe.Kinds -- before}")
    assert(lines.contains("[probe] after=0"), s"entries survived the stop:\n$out")
  }

  test("release frees storage the same way for every entry kind") {
    import spark.implicits._
    def base(n: Int) = (0 until n).map(i => (i.toLong, s"t$i")).toDF("id", "t")
    val persisted = Shared(spark, ("spec", "persist")) {
      base(11).persist()
    }
    persisted.count()
    val eager = Shared(spark, ("spec", "eager")) {
      base(12).localCheckpoint(true)
    }
    val lazyCk = Shared(spark, ("spec", "lazy")) {
      base(13).localCheckpoint(false)
    }
    lazyCk.count()
    val pair = Shared(spark, ("spec", "pair")) {
      (Seq(1, 2, 3), base(14).localCheckpoint(true))
    }
    assert(inCacheManager(persisted))
    val ckIds = Seq(eager, lazyCk, pair._2).map(checkpointRdd)
    assert(ckIds.toSet.subsetOf(persistentRdds), "checkpoints must be stored")
    Shared.release(spark) { case ("spec", _) => true }
    assert(!inCacheManager(persisted), "persisted entry still cached")
    assert(ckIds.toSet.intersect(persistentRdds).isEmpty,
      s"checkpoint RDDs still stored: ${ckIds.toSet.intersect(persistentRdds)}")
    assert(!Shared.keys(spark).exists(tag(_) == "spec"))
    // free on an unregistered frame is the same operation
    val loose = base(15).localCheckpoint(true)
    Shared.free(loose)
    assert(!persistentRdds.contains(checkpointRdd(loose)))
  }

  test("releasing Pipeline.survivors frees only its own checkpoint, not " +
      "the pair table built inside it") {
    val surv = thrivespark.ops.Pipeline.survivors(spark, sf0001)
    val pairs = thrivespark.ops.Dedup.nearDupPairs(spark, sf0001, 0.6)
    val ck = checkpointRdd(surv)
    assert(persistentRdds.contains(ck) && inCacheManager(pairs))
    releaseTag("survivors")
    assert(!persistentRdds.contains(ck), "survivor checkpoint still stored")
    assert(inCacheManager(pairs), "release freed the pair table it does not own")
    assert(thrivespark.ops.Dedup.nearDupPairs(spark, sf0001, 0.6) eq pairs)
  }

  test("one cache mechanism: no TrieMap or getPersistentRDDs outside Shared") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val shared = new java.io.File(root, "thrivespark/Shared.scala").getCanonicalFile
    val hits = files(root).filterNot(_.getCanonicalFile == shared).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (l, i) if l.contains("concurrent.TrieMap") ||
            l.contains("getPersistentRDDs") => s"${f.getPath}:${i + 1}: ${l.trim}"
      }.toList finally src.close()
    }
    assert(hits.isEmpty, s"a second cache mechanism under src/main/scala:\n" +
      hits.mkString("\n"))
  }
}

/** Child-JVM half of the stopped-session test: builds one registry entry of
  * every kind through the ops that own them, stops the session, and prints
  * the kinds registered before and the entry count left after. */
object SharedPruneProbe {
  val Kinds: Set[String] = Set("table", "eventsParsed", "shingles", "pairs",
    "paragraphEdges", "pagerank", "survivors", "persisted", "bpeMerges",
    "bpeCharTrain", "kmeans", "trimodalManifest")

  def main(args: Array[String]): Unit = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Seq("scan_json_lines", "dedup_near_minhash", "graph_pagerank",
        "pipeline_corpus_e2e", "text_filter_pipeline", "text_bpe_train",
        "text_bpe_char_train", "sim_ann_kmeans_train", "pipeline_multimodal_e2e")
      .foreach(k => thrivespark.Registry.queries(k)(s, args(0)): Unit)
    val before = Shared.keys(s).map {
      case p: Product => p.productElement(0).toString
      case k => k.toString
    }
    s.stop()
    println(s"[probe] before=${before.toSeq.sorted.mkString(",")}")
    println(s"[probe] after=${Shared.keys(s).size}")
  }
}

package graft

import graft.operators.{Dedup, Pipeline, Similarity, TextAnalysis, Multimodal}
import org.scalatest.funsuite.AnyFunSuite

/** Pipeline-operator tests at sf0.001 plus cross-checks the DuckDB oracle
  * can't express: LSH-vs-brute-force consistency, simhash behavior.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("minhash LSH finds exactly the ground-truth jaccard pairs") {
    val exact = Dedup.queries("d2_ngram_jaccard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.queries("d3_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"LSH=${lsh.size} exact=${exact.size}")
  }

  test("simhash near-dup pairs overlap heavily with jaccard near-dups") {
    val jac = Dedup.queries("d2_ngram_jaccard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.queries("d4_simhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // simhash(hamming≤6) should recover most 0.9+-jaccard near-dups
    if (jac.nonEmpty) {
      val recall = jac.count(sim.contains).toDouble / jac.size
      assert(recall >= 0.8, s"simhash recall $recall over ${jac.size} pairs")
    }
  }

  test("ANN LSH top-k hits are a subset of true candidates with decent recall") {
    val brute = Similarity.queries("s1_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = Similarity.queries("s3_ann_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.count(ann.contains).toDouble / brute.size
    assert(recall >= 0.5, s"ANN recall $recall (brute=${brute.size}, ann=${ann.size})")
  }

  test("IVF ANN recall vs brute force is high on clustered embeddings") {
    val brute = Similarity.queries("s1_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.queries("s4_ivf_ann")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    assert(recall >= 0.65, s"IVF recall $recall (brute=${brute.size}, ivf=${ivf.size})")
  }

  test("dup-cluster local union-find matches GraphX connected components") {
    def rows(): Set[(Long, Long, Long)] = {
      Pipeline.clearSessionCache()
      Pipeline.queries("d6_dup_clusters")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val key = "spark.graft.local.maxRows"
    val local = rows()
    spark.conf.set(key, "0") // force the distributed GraphX CC
    try assert(rows() == local, "local union-find diverged from GraphX CC")
    finally { spark.conf.unset(key); Pipeline.clearSessionCache() }
    assert(local.nonEmpty)
  }

  test("exactness-gate size guard: d2 routes to the banded twin, d5 refuses") {
    val key = "spark.graft.dedup.exactBytes"
    // a 1-byte bound makes ANY input "too large" — the guard must fire
    spark.conf.set(key, "1")
    try {
      // d2 → banded twin: same schema, and at this scale the identical
      // pair set (LSH == exact is asserted by the minhash test above)
      val routed = operators.Dedup.queries("d2_ngram_jaccard")(spark, sf)
      assert(routed.columns.toSeq == Seq("da", "db", "jaccard"))
      val ex = intercept[IllegalStateException] {
        operators.Dedup.queries("d5_cosine_neardup")(spark, sf)
      }
      assert(ex.getMessage.contains("exactness gate"))
    } finally spark.conf.unset(key)
    // default bound: both run their exact paths (covered by the oracle
    // rows and the minhash test; just prove the guard does NOT fire)
    assert(operators.Dedup.queries("d5_cosine_neardup")(spark, sf).columns.nonEmpty)
  }

  test("s1/s3/s4/s8 local ANN serves match the distributed pipelines: schema and rows") {
    // default cap → local serve; cap 0 → every serve distributed. The
    // session cache keys don't see the conf, so clear between runs.
    val names = Seq("s1_cosine_topk", "s3_ann_lsh", "s4_ivf_ann", "s8_pq_adc_ann")
    def run(): Map[String, (org.apache.spark.sql.types.StructType, Seq[org.apache.spark.sql.Row])] =
      names.map { name =>
        Similarity.clearSessionCache()
        val df = Similarity.queries(name)(spark, sf)
        name -> ((df.schema, df.collect().toSeq))
      }.toMap
    val key = "spark.graft.local.maxRows"
    val local = run()
    spark.conf.set(key, "0")
    val dist = try run() finally {
      spark.conf.unset(key)
      Similarity.clearSessionCache()
    }
    // names and types; a driver-built frame's columns are non-nullable
    def shape(st: org.apache.spark.sql.types.StructType) = st.map(f => (f.name, f.dataType))
    import org.apache.spark.sql.types.{IntegerType, LongType}
    names.foreach { n =>
      // s4's rank is row_number's int; the others cast it to long
      val rankType = if (n == "s4_ivf_ann") IntegerType else LongType
      assert(shape(local(n)._1) == Seq("qid" -> LongType, "rank" -> rankType,
        "cid" -> LongType, "cos" -> org.apache.spark.sql.types.DoubleType), s"$n local schema")
      assert(shape(dist(n)._1) == shape(local(n)._1), s"$n schemas diverged")
      assert(dist(n)._2 == local(n)._2, s"$n local serve diverged")
      assert(local(n)._2.nonEmpty, s"$n returned no rows")
    }
  }

  test("quality score is bounded and text-length monotone-ish") {
    import org.apache.spark.sql.functions._
    val scored = Tables.T(spark, sf, "documents")
      .select(graft.functions.TextFns.qualityScore(col("text")).as("s"))
      .agg(min(col("s")), max(col("s"))).collect().head
    assert(scored.getDouble(0) >= 0.0 && scored.getDouble(1) <= 1.0)
  }

  test("frame sampling stub covers every byte exactly once") {
    val rows = Multimodal.queries("m2_frame_sample")(spark, sf).collect()
    assert(rows.nonEmpty)
    val meta = Multimodal.queries("m1_binary_meta")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val nBytes = meta(r.getLong(0))
      assert(r.getLong(1) == math.ceil(nBytes / 64.0).toLong)
    }
  }

  test("dup clusters = union-find over the ground-truth pair set") {
    // reference clustering: driver-side union-find over the exact d2 pairs
    val pairs = Dedup.queries("d2_ngram_jaccard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(x => (find(x), x)).toSeq
      .groupBy(_._1).map { case (k, vs) => (k, vs.size.toLong, vs.map(_._2).sum) }.toSet
    val got = Pipeline.queries("d6_dup_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected, s"got=${got.size} expected=${expected.size}")
  }

  test("stratified sample: non-dominant languages kept whole, en downsampled") {
    val rows = Pipeline.queries("d7_stratified_sample")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (lang, total, sampled) =>
      assert(sampled <= total)
      if (lang != "en") assert(sampled == total, s"$lang should keep all")
    }
    val (_, enTotal, enSampled) = rows.find(_._1 == "en").get
    val frac = enSampled.toDouble / enTotal
    assert(frac > 0.1 && frac < 0.5, s"en keep-rate $frac should be ~0.3")
  }

  test("sequence packing conserves documents and tokens per language") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns._
    val bins = Pipeline.queries("d8_sequence_pack")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val totals = Tables.T(spark, sf, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(size(tokens(col("text"))).cast("long")).as("tok"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val byLang = bins.groupBy(_._1)
    assert(byLang.keySet == totals.keySet)
    byLang.foreach { case (lang, bs) =>
      assert(bs.map(_._3).sum == totals(lang)._1, s"$lang doc conservation")
      assert(bs.map(_._4).sum == totals(lang)._2, s"$lang token conservation")
      // chunk ids are the dense prefix 0..maxBin of the concat-and-chunk split
      val ids = bs.map(_._2).sorted
      assert(ids.sameElements(0L until ids.length), s"$lang bins dense")
    }
  }

  test("dedup corpus endpoint: survivors = exact keepers minus near-dup losers") {
    val r = Pipeline.queries("d10_dedup_corpus")(spark, sf).collect().head
    val total = Tables.T(spark, sf, "documents").count()
    assert(r.getLong(0) > 0 && r.getLong(0) <= total)
    // survivors can never exceed the exact-unique count (d1's n_unique),
    // and drop below it exactly by the near-dup losers that were keepers
    val d1 = Dedup.queries("d1_exact_dedup")(spark, sf).collect().head
    assert(r.getLong(0) <= d1.getLong(0))
    val clusters = Pipeline.queries("d6_dup_clusters")(spark, sf).collect()
    val losers = clusters.map(c => c.getLong(1) - 1).sum // csize-1 per cluster
    assert(r.getLong(0) >= d1.getLong(0) - losers)
  }

  test("contamination: reported pairs are train×eval with symmetric overlap") {
    import org.apache.spark.sql.functions._
    val rows = Pipeline.queries("d9_contamination")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (train, ev, n) =>
      assert(train % 50 != 0 && ev % 50 == 0 && n >= 2)
    }
    // spot-check one pair's overlap against a direct shingle intersection
    rows.headOption.foreach { case (train, ev, n) =>
      import graft.functions.TextFns.shingles
      def shingleSet(id: Long): Set[String] =
        Tables.T(spark, sf, "documents").filter(col("doc_id") === id)
          .select(explode(shingles(col("text"), 3)).as("s"))
          .collect().map(_.getString(0)).toSet
      assert(shingleSet(train).intersect(shingleSet(ev)).size.toLong == n)
    }
  }

  test("s8 _index sidecar: a reopened raw corpus skips the PQ encode (r14)") {
    import graft.operators.Similarity
    // clean slate: drop any sidecar a previous run left for this corpus
    val home = java.nio.file.Paths.get(Similarity.pqSidecarHome(sf))
    graft.cypher.GraphStore.deleteTree(home)
    Similarity.clearSessionCache()
    val en0 = graft.functions.Ivf.encodeBuilds.get()
    val first = graft.SparkEntry.queries("s8_pq_adc_ann")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(graft.functions.Ivf.encodeBuilds.get() == en0 + 1,
      "cold build must run exactly one encode pass")
    assert(java.nio.file.Files.isDirectory(home), s"sidecar not written at $home")
    // drop the in-JVM session cache — the second run must come from the
    // DURABLE sidecar, with zero encode passes, and be row-identical
    Similarity.clearSessionCache()
    val en1 = graft.functions.Ivf.encodeBuilds.get()
    val second = graft.SparkEntry.queries("s8_pq_adc_ann")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(graft.functions.Ivf.encodeBuilds.get() == en1,
      "sidecar reopen re-encoded the corpus")
    assert(first == second, "sidecar-served result differs from the cold build")
    graft.cypher.GraphStore.deleteTree(home)
  }

  test("s8 _index sidecar: an in-place corpus append misses the fingerprint and rebuilds (r15)") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    // writable copy of the tiny corpus — the append happens IN PLACE
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar_app").toString
    Tables.T(spark, sf, "embeddings")
      .write.parquet(s"$dir/embeddings.parquet")
    Similarity.clearSessionCache()
    val en0 = graft.functions.Ivf.encodeBuilds.get()
    val first = graft.SparkEntry.queries("s8_pq_adc_ann")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(graft.functions.Ivf.encodeBuilds.get() == en0 + 1)
    // append near-duplicates of query 0's vector: if a stale sidecar were
    // served, qid 0's result could not contain the new ids
    val q0 = Tables.T(spark, dir, "embeddings")
      .filter(col("vec_id") === 0L).select(col("embedding"))
      .collect().head.getSeq[Float](0)
    import spark.implicits._
    (0 until 3).map(i => (100000L + i,
        q0.zipWithIndex.map { case (x, j) => x + (if (j == i) 1e-4f else 0f) },
        99))
      .toDF("vec_id", "embedding", "label")
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    Similarity.clearSessionCache()
    val en1 = graft.functions.Ivf.encodeBuilds.get()
    val second = graft.SparkEntry.queries("s8_pq_adc_ann")(spark, dir)
      .collect()
    assert(graft.functions.Ivf.encodeBuilds.get() == en1 + 1,
      "in-place append must miss the sidecar fingerprint and re-encode")
    assert(second.map(_.toSeq).toSeq != first,
      "post-append result identical — a stale sidecar was served")
    val q0Cids = second.filter(_.getLong(0) == 0L).map(_.getLong(2)).toSet
    assert(q0Cids == Set(100000L, 100001L, 100002L),
      s"appended near-dups must dominate qid 0's top-3: $q0Cids")
    graft.cypher.GraphStore.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("token counts: regex tokens >= whitespace tokens") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns._
    val bad = Tables.T(spark, sf, "documents")
      .select(size(tokens(col("text"))).as("ws"), size(regexTokens(col("text"))).as("re"))
      .filter(col("re") < col("ws")).count()
    assert(bad == 0)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Multimodal, Skew, TextAnalysis}
import graft.sources.{Roundtrip, Tables}

/** Semantics of the round-2 breadth operators: multimodal resize /
  * frame-sample stubs, byte entropy, skew toolkit, format roundtrips.
  * (The DuckDB hash gate checks full-result equality; these pin the
  * algebraic invariants that hold at any scale.)
  */
class BreadthOpsSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def dir = TestSpark.sf0001

  test("image resize: decoded-then-decimated pixels match direct source decimation") {
    val rows = Multimodal.imageResize(spark, dir).orderBy("doc_id").limit(20).collect()
    assert(rows.nonEmpty)
    val texts = Tables(spark, dir, "documents")
      .orderBy("doc_id").limit(20).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val bytes = texts(r.getLong(0)).getBytes("UTF-8")
      val h = (bytes.length + 15) / 16
      val padded = java.util.Arrays.copyOf(bytes, 16 * h)
      java.util.Arrays.fill(padded, bytes.length, 16 * h, ' '.toByte)
      val outH = (h + 1) / 2
      val resized = Array.tabulate(outH * 8)(i => padded((2 * (i / 8)) * 16 + 2 * (i % 8)))
      assert(r.getInt(1) == 8 && r.getInt(2) == outH)
      digest.reset()
      assert(r.getString(3) == digest.digest(resized).map("%02x".format(_)).mkString,
        s"doc ${r.getLong(0)}: resized raster differs from direct decimation")
      assert(r.getLong(4) == resized.map(_ & 0xFF).map(_.toLong).sum)
    }
  }

  test("frame sample: strided frame set matches direct substring digests") {
    val doc = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(1).collect().head
    val text = doc.getString(1)
    val expected = (0 until (text.length + 63) / 64 by 4).map { i =>
      val frame = text.substring(i * 64, math.min((i + 1) * 64, text.length))
      (i, frame.length)
    }
    val got = Multimodal.frameSampleStub(spark, dir)
      .filter(col("doc_id") === doc.getLong(0))
      .orderBy(col("frame_idx"))
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    assert(got.toSeq == expected)
  }

  test("byte entropy: within [0, ln 256] and 0 for single-byte docs") {
    val rows = TextAnalysis.byteEntropy(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getDouble(1)
      assert(h >= 0.0 && h <= math.log(256.0) + 1e-9, s"doc ${r.getLong(0)} entropy $h")
    }
  }

  test("salted join result equals the unsalted join") {
    val plain = Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Skew.saltedRevenueBySegment(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == plain)
  }

  test("skew-safe distinct equals plain countDistinct") {
    val plain = Tables(spark, dir, "events")
      .groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("d"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val safe = Skew.distinctUsersPerType(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(safe == plain)
  }

  test("dup clusters: edge endpoints share a cluster; reps are component minima") {
    val edges = graft.operators.Dedup.ngramJaccardPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = graft.operators.Dedup.dupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    edges.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"edge ($a,$b) split across clusters")
    }
    // every representative is a member of its own cluster and is minimal
    clusters.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.keySet.min == rep, s"cluster $rep min is ${members.keySet.min}")
    }
  }

  test("orc/csv/json roundtrips preserve the source aggregate") {
    val orc = Roundtrip.orcLineitem(spark, dir).collect()
    assert(orc.nonEmpty)
    val direct = Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("sum_price"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(orc.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet == direct)
    assert(Roundtrip.csvOrders(spark, dir).count() > 0)
    assert(Roundtrip.jsonEvents(spark, dir).count() > 0)
  }

  test("row ids: bucketed two-phase numbering == single-reducer window, dense 1..N") {
    import org.apache.spark.sql.expressions.Window
    val got = graft.operators.Relational.globalRowIds(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val n = got.length
    assert(n > 0)
    assert(got.map(_._1).sorted.sameElements(Array.tabulate(n)(_ + 1L)),
      "ids must be dense 1..N")
    val window = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"))
      .withColumn("row_id", row_number().over(
        Window.orderBy(col("l_orderkey").asc, col("l_linenumber").asc)).cast("long"))
      .collect().map(r => (r.getAs[Long]("row_id"), r.getLong(0), r.getInt(1)))
    assert(got.toSet == window.toSet, "two-phase ids differ from the window formulation")
  }

  test("bloom join: result equals the plain join; the probe prunes the fact side") {
    val got = graft.operators.Relational.bloomPrunedJoin(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("revenue"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == plain, "bloom-pruned join must be invisible in the result")
    // the probe itself: build the same filter, count survivors — the
    // bloom must pass every matching key (no false negatives) and
    // reject most non-matching ones at the chosen 8 bits/key
    graft.GraftSession.register(spark)
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_orders")
    Tables(spark, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
    val Array(total, kept, matching) = spark.sql(
      """WITH bf AS (
        |  SELECT graft_bloom_agg(xxhash64(o_orderkey),
        |    CAST(50000 AS BIGINT), CAST(400000 AS BIGINT)) AS b
        |  FROM graft_orders WHERE o_orderpriority = '1-URGENT')
        |SELECT COUNT(*) AS total,
        |  COUNT(CASE WHEN graft_might_contain((SELECT b FROM bf), xxhash64(l_orderkey))
        |    THEN 1 END) AS kept,
        |  COUNT(CASE WHEN l_orderkey IN
        |      (SELECT o_orderkey FROM graft_orders WHERE o_orderpriority = '1-URGENT')
        |    THEN 1 END) AS matching
        |FROM graft_lineitem""".stripMargin)
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    assert(kept >= matching, "bloom dropped a matching key (false negative)")
    assert(kept < total, s"bloom pruned nothing ($kept of $total)")
    val fpRate = (kept - matching).toDouble / math.max(1L, total - matching)
    assert(fpRate < 0.05, s"false-positive rate $fpRate too high for 8 bits/key")
  }

  test("phash: decoded-pixel dHash matches a driver recompute from the text bytes") {
    val got = Multimodal.imagePhash(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.nonEmpty)
    val docs = Tables(spark, dir, "documents")
      .filter(length(col("text")) >= 128)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(docs.map(_._1).toSet == got.keySet)
    docs.take(25).foreach { case (id, text) =>
      val w = 16
      val h = (text.length + w - 1) / w
      val padded = text.padTo(w * h, ' ')
      val sums = Array.ofDim[Long](9, 8); val cnts = Array.ofDim[Long](9, 8)
      for (r <- 0 until h; c <- 0 until w) {
        sums(c * 9 / w)(r * 8 / h) += padded(r * w + c).toLong
        cnts(c * 9 / w)(r * 8 / h) += 1
      }
      var hi = 0L; var lo = 0L
      for (gy <- 0 until 8; gx <- 0 until 8)
        if (sums(gx)(gy) * cnts(gx + 1)(gy) > sums(gx + 1)(gy) * cnts(gx)(gy)) {
          if (gy < 4) hi |= 1L << (8 * gy + gx) else lo |= 1L << (8 * (gy - 4) + gx)
        }
      assert(got(id) == ((hi, lo)), s"doc $id phash mismatch vs driver recompute")
    }
  }

  test("image near-dups: banding is lossless at distance 3 vs brute force") {
    val got = Multimodal.imageNearDups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    got.foreach { case ((a, b), dist) =>
      assert(a < b, "pairs must be a<b ordered")
      assert(dist >= 0 && dist <= 3, s"distance out of contract: $dist")
    }
    // brute force over the fingerprints: 4-band pigeonhole guarantees
    // EVERY pair within distance 3 shares a band, so the candidate
    // join can't lose one — the result sets must be EQUAL
    val ph = Multimodal.imagePhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (ida, ha, la) <- ph; (idb, hb, lb) <- ph if ida < idb
      d = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
      if d <= 3
    } yield (ida, idb) -> d).toMap
    assert(got == brute,
      s"banded join diverges from brute force: ${got.size} vs ${brute.size} pairs")
  }

  test("lm score: every multi-token doc scored, scores negative, one doc recomputed") {
    val got = TextAnalysis.lmScore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    assert(got.forall(_._3 < 0), "smoothed log-probs must be negative")
    // coverage: exactly the docs with >= 2 tokens
    val docToks = Tables(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toArray))
    assert(got.map(_._1).toSet == docToks.filter(_._2.length >= 2).map(_._1).toSet)
    // driver recompute of one document's mean log-prob from the same
    // corpus counts (float tolerance: the engine's path is decimal-summed)
    val allPairs = docToks.flatMap { case (_, t) => t.toSeq.sliding(2).collect {
      case Seq(a, b) => (a, b) } }
    val c12 = allPairs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val c1 = allPairs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val v = c1.size
    val (docId, toks) = docToks.filter(_._2.length >= 2).head
    val lps = toks.toSeq.sliding(2).collect { case Seq(a, b) =>
      math.log((c12((a, b)) + 1).toDouble / (c1(a) + v)) }.toSeq
    val expect = lps.sum / lps.length
    val gotDoc = got.find(_._1 == docId).get
    assert(gotDoc._2 == lps.length)
    assert(math.abs(gotDoc._3 - expect) < 1e-5,
      s"doc $docId avg_logprob ${gotDoc._3} vs driver $expect")
  }

  test("bpe train: distributed merge rules equal a driver replay of the algorithm") {
    val merges = 6
    val got = TextAnalysis.bpeTrain(spark, dir, merges).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(got.length == merges)
    val wordCounts = Tables(spark, dir, "documents")
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    var syms = wordCounts.map { case (w, c) => (w.map(_.toString).toArray :+ "</w>", c) }
    val expect = Seq.newBuilder[(Int, String, String, String, Long)]
    for (step <- 1 to merges) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      syms.foreach { case (arr, c) =>
        for (i <- 0 until arr.length - 1)
          pc((arr(i), arr(i + 1))) = pc.getOrElse((arr(i), arr(i + 1)), 0L) + c
      }
      val ((a, b), c) = pc.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
      expect += ((step, a, b, a + b, c))
      syms = syms.map { case (arr, cc) => (TextAnalysis.mergeAdjacent(arr, a, b), cc) }
    }
    assert(got == expect.result(), "distributed rule sequence differs from driver replay")
  }

  test("approx_top_k: engine sketch is exact at this vocabulary; tie-aware top set") {
    val got = TextAnalysis.approxTopTokens(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.length == 9)
    val exact = Tables(spark, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    got.foreach { case (t, c) => assert(exact(t) == c, s"sketch count for $t drifted") }
    // tie-aware set check: everything returned is >= the k-th count, and
    // every strictly-greater token is present
    val kth = got.map(_._2).min
    exact.filter(_._2 > kth).keys.foreach(t =>
      assert(got.exists(_._1 == t), s"top token $t missing from sketch top-k"))
  }

  test("bpe apply: segmentation matches a driver replay; compression bounds hold") {
    val merges = 6
    val got = TextAnalysis.bpeApply(spark, dir, merges).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // bounds: ≥1 piece per word; ≤ chars + 1 per word (merges only shrink)
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toArray)).toMap
    got.foreach { case (id, nw, np, ppw) =>
      val toks = docs(id)
      assert(nw == toks.length)
      assert(np >= nw || nw == 0)
      assert(np <= toks.map(_.length + 1).sum)
      assert(math.abs(ppw - np.toDouble / math.max(nw, 1)) < 1e-3)
    }
    // full driver replay for 3 docs with the same trained rules
    val rules = TextAnalysis.bpeTrain(spark, dir, merges).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))
    got.take(3).foreach { case (id, _, np, _) =>
      val expect = docs(id).map { w =>
        var arr = w.map(_.toString).toArray :+ "</w>"
        rules.foreach { case (a, b) => arr = TextAnalysis.mergeAdjacent(arr, a, b) }
        arr.length
      }.sum
      assert(np == expect, s"doc $id pieces $np vs driver replay $expect")
    }
  }

  test("cdc feed: exactly the re-crawled keys, all updates, digests actually change") {
    import graft.sources.VersionedTable
    val feed = VersionedTable.changeFeed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val hot = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 7 === 0).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(feed.map(_._1).toSet == hot, "feed keys must be exactly the re-crawled slice")
    assert(feed.forall(_._2 == "update"), "this chain only updates")
    feed.foreach { case (id, _, o, n) =>
      assert(o != null && n != null && o != n, s"doc $id digest did not change")
    }
  }

  test("time travel: snapshot isolation + file-group reuse across versions") {
    import graft.sources.VersionedTable
    val root = VersionedTable.buildChain(spark, dir)
    val m1 = VersionedTable.manifest(root, 1)
    val m2 = VersionedTable.manifest(root, 2)
    // the cold file group is REUSED by reference, the hot one replaced
    assert(m1.intersect(m2) == Seq("files/cold_v1"))
    assert(m1.contains("files/hot_v1") && m2.contains("files/hot_v2"))
    val v1 = VersionedTable.readVersion(spark, root, 1)
    val v2 = VersionedTable.readVersion(spark, root, 2)
    assert(v1.count() == v2.count())
    // v1 stays pre-crawl AFTER the v2 commit (snapshot isolation)
    assert(v1.filter(col("text").endsWith(" v2")).count() == 0)
    val hot2 = v2.filter(col("doc_id") % 7 === 0)
    assert(hot2.count() > 0)
    assert(hot2.filter(!col("text").endsWith(" v2") || col("source") =!= "recrawl").count() == 0)
  }

  test("benford: nine digits, probabilities sum to one, expected follows the law") {
    val rows = graft.operators.Quality.benford(spark, dir).collect()
    assert(rows.map(_.getInt(0)).sorted.toSeq == (1 to 9))
    val obsSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(obsSum - 1.0) < 1e-4, s"observed_p must sum to ~1, got $obsSum")
    rows.foreach { r =>
      val want = math.log10(1.0 + 1.0 / r.getInt(0))
      assert(math.abs(r.getDouble(3) - want) < 1e-6)
    }
  }

  test("attribution: every purchase is attributed exactly once; channels are real touches") {
    val events = Tables(spark, dir, "events")
    val purchases = events.filter(col("event_type") === "purchase").count()
    val rows = graft.operators.Analytics.lastTouchAttribution(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum == purchases,
      "conversions must partition the purchase set")
    val channels = rows.map(_.getString(0)).toSet
    val legal = Set("view", "click", "signup", "error", "direct")
    assert(channels.subsetOf(legal), s"unexpected channels: ${channels -- legal}")
    assert(!channels.contains("purchase"), "a purchase never self-attributes")
  }

  test("inverted index: df bounded by corpus size, total_tf consistent with token count") {
    val docs = Tables(spark, dir, "documents")
    val nDocs = docs.count()
    val idx = graft.operators.TextAnalysis.invertedIndex(spark, dir).collect()
    assert(idx.nonEmpty)
    idx.foreach { r =>
      assert(r.getLong(1) <= nDocs, s"df > corpus for ${r.getString(0)}")
      assert(r.getLong(2) >= r.getLong(1), "total_tf >= df")
    }
    val totalToks = docs
      .select(sum(size(TextAnalysis.tokens(lower(col("text")))))).collect().head.getLong(0)
    assert(idx.map(_.getLong(2)).sum == totalToks,
      "sum of total_tf must equal the corpus token count")
  }

  test("binary knn: hamming bounded by dim; self excluded; sign-LSH tracks cosine") {
    val rows = graft.operators.Quantization.binaryKnn(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(3) >= 0 && r.getInt(3) <= 64, "hamming in [0, 64]")
      assert(r.getLong(0) != r.getLong(1), "a vector never neighbors itself")
    }
    // Charikar bound sanity: selected top-5 neighbors must sit well
    // below the Hamming-32 expectation of a random 64-bit pair, and
    // still intersect the exact cosine top-5 (these embeddings are
    // synthetic near-uniform vectors — the hardest case for sign-LSH —
    // so the pin is the direction of the signal, not a recall target)
    val meanTop = rows.map(_.getInt(3)).sum.toDouble / rows.length
    assert(meanTop < 29.0,
      s"top-k Hamming must beat the random-pair expectation of 32, got $meanTop")
    val exact = graft.operators.Similarity.knnBrute(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = rows.map(r => (r.getLong(0), r.getLong(1))).count(exact)
    assert(overlap > 0,
      s"sign-bit top-k should intersect cosine top-k (overlap $overlap/${rows.length})")
  }

  test("bootstrap: every replica resamples ~n rows and means cluster around the truth") {
    val events = Tables(spark, dir, "events")
    val n = events.count()
    val mean = events.select(avg(col("value"))).collect().head.getDouble(0)
    val rows = graft.operators.Stats.bootstrapMeans(spark, dir).collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      // Poisson(1) multiplicities: E[n_eff] = n, sd ≈ √n
      assert(math.abs(r.getLong(1) - n) < 6 * math.sqrt(n.toDouble) + 6,
        s"replica ${r.getInt(0)} resampled ${r.getLong(1)} of $n rows")
    }
    val boots = rows.map(_.getDouble(3))
    assert(math.abs(boots.sum / boots.length - mean) < 0.2 * math.abs(mean) + 1.0,
      "bootstrap means must center near the sample mean")
    assert(boots.distinct.length > 1, "replicas must differ (independent resamples)")
  }

  test("target encoding: leave-one-out identity and no self-leakage") {
    val rows = graft.operators.Stats.targetEncode(spark, dir).collect()
    assert(rows.nonEmpty)
    val events = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents")).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    val byCat = events.values.groupBy(_._1).map { case (c, xs) =>
      c -> (xs.map(_._2).sum, xs.size)
    }
    rows.foreach { r =>
      val (cat, own) = events(r.getLong(0))
      val (s, n) = byCat(cat)
      if (n > 1) {
        val want = (s - own).toDouble / ((n - 1).toDouble * 100)
        assert(math.abs(r.getDouble(2) - want) < 5e-7,
          s"LOO identity failed for event ${r.getLong(0)}")
      } else assert(r.isNullAt(2), "singleton categories must encode NULL")
    }
  }

  test("profile drift: re-crawl shows in chars and recrawl rows, not in row count") {
    val m = graft.operators.Quality.profileDrift(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m("row_count")._3 == 0, "the re-crawl replaces rows, never adds")
    assert(m("total_chars")._3 > 0, "' v2' suffixes add characters")
    assert(m("recrawl_rows")._1 == 0 && m("recrawl_rows")._2 > 0)
  }

  test("cusum: nonnegative, resets on dips, equals the independent driver fold") {
    val rows = graft.operators.Stats.cusumShifts(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._4 >= 0), "one-sided CUSUM never goes negative")
    rows.groupBy(_._1).foreach { case (t, series) =>
      val sorted = series.sortBy(_._2)
      val total = sorted.map(_._3).sum
      val h = sorted.length.toLong
      var s = 0L
      sorted.foreach { case (_, _, n, got, alarm) =>
        s = math.max(0L, s + (n * h - total))
        assert(got == s, s"fold diverged for $t")
        assert(alarm == (s > 2 * total))
      }
      assert(sorted.exists(_._4 == 0), s"$t: a mean-reverting series must reset to 0 somewhere")
    }
  }

  test("isotonic: calibrated rates are monotone and conserve positive mass") {
    val rows = graft.operators.RetrievalEval.isotonicCalibration(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a._5 <= b._5 + 1e-9,
        s"calibrated must be nondecreasing: bin ${a._1}=${a._5} > bin ${b._1}=${b._5}")
      case _ => ()
    }
    val totalPos = rows.map(_._3).sum.toDouble
    val calMass = rows.map(r => r._2 * r._5).sum
    assert(math.abs(calMass - totalPos) < 0.01 * totalPos + 1.0,
      s"PAV conserves positive mass within rounding ($calMass vs $totalPos)")
    assert(rows.exists(r => math.abs(r._4 - r._5) > 1e-9),
      "the fixture's rates are non-monotone somewhere, so PAV must pool something")
  }

  test("readability: counts positive, flesch formula reproduced") {
    val rows = graft.operators.TextAnalysis.readability(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (s, w, sy) = (r.getInt(1), r.getInt(2), r.getInt(3))
      assert(s >= 1 && w >= 0 && sy >= 0)
      if (w > 0) {
        val want = 206.835 - 1.015 * w.toDouble / s - 84.6 * sy.toDouble / w
        assert(math.abs(r.getDouble(4) - want) < 5e-5)
        assert(sy >= w / 2, "vowel-run syllables: at least ~one per real word")
      }
    }
  }

  test("log-rank: O-E sums are symmetric across arms and chi2 is well-formed") {
    val r = graft.operators.Stats.logRank(spark, dir).collect().head
    val (observedA, expectedA, variance) =
      (r.getAs[Long]("observed_a"), r.getAs[Double]("expected_a"),
        r.getAs[Double]("variance"))
    assert(r.getAs[Long]("n_times") > 0)
    assert(variance >= 0.0)
    assert(expectedA >= 0.0)
    // χ² reproduced from its own components
    if (variance > 0) {
      val want = (observedA.toDouble - expectedA) * (observedA.toDouble - expectedA) / variance
      assert(math.abs(r.getAs[Double]("chi2") - want) < 5e-5)
    }
  }

  test("mann-kendall: |S| bounded by pair count, z sign follows S") {
    val rows = graft.operators.Stats.mannKendall(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val m = r.getAs[Long]("n_points")
      val s = r.getAs[Long]("s")
      val z = r.getAs[Double]("z")
      assert(math.abs(s) <= m * (m - 1) / 2, "S is a sum of ±1 over pairs")
      assert(r.getAs[Double]("var_s") >= 0.0)
      if (s > 1) assert(z > 0.0)
      if (s < -1) assert(z < 0.0)
    }
  }

  test("theil-sen: slope lies within the pairwise slope envelope") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Stats.theilSen(spark, dir).collect()
    assert(rows.nonEmpty)
    // recompute the per-type min/max pairwise slope envelope
    val raw = graft.sources.Tables.raw(spark, dir, "events")
    val hourly = raw.select(col("event_type"),
        graft.sources.Tables.microsDiv(raw, 3600000000L).as("hr"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("n"))
    val env = hourly.as("a").join(hourly.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.hr") < col("b.hr"))
      .select(col("a.event_type").as("t"),
        ((col("b.n") - col("a.n")).cast("double") /
          (col("b.hr") - col("a.hr")).cast("double")).as("sl"))
      .groupBy("t").agg(min("sl").as("lo"), max("sl").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (lo, hi) = env(r.getString(0))
      val sen = r.getAs[Double]("sen_slope")
      assert(sen >= lo - 1e-6 && sen <= hi + 1e-6)
      assert(r.getAs[Long]("n_pairs") > 0)
    }
  }

  test("vocab coverage: rates in [0,1]; a full-size vocabulary drives OOV to zero") {
    val rows = graft.operators.TextAnalysis.vocabCoverage(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rate = r.getAs[Double]("oov_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("n_oov") <= r.getAs[Long]("n_tokens"))
    }
    val full = graft.operators.TextAnalysis.vocabCoverage(spark, dir, k = 1000000)
      .collect()
    assert(full.forall(_.getAs[Long]("n_oov") == 0L),
      "a vocabulary holding every corpus token leaves nothing OOV")
  }

  test("holt-winters: distributed fold equals an independent driver replay") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.Stats.holtWinters(spark, dir)
      .orderBy("event_type", "hr").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.nonEmpty)
    val raw = graft.sources.Tables.raw(spark, dir, "events")
    val hourly = raw.select(col("event_type"),
        graft.sources.Tables.microsDiv(raw, 3600000000L).as("hr"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val (alpha, beta, gamma) = (0.5, 0.3, 0.2)
    val (a1, b1, g1) = (1 - alpha, 1 - beta, 1 - gamma)
    val want = hourly.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      val s = Array.fill(24)(0.0)
      var level = 0.0; var trend = 0.0; var first = true
      rows.sortBy(_._2).map { case (_, hr, n) =>
        val y = n.toDouble
        val slot = (hr % 24).toInt
        if (first) { first = false; level = y; trend = 0.0; s(slot) = 0.0 }
        else {
          val sPrev = s(slot); val prev = level
          level = alpha * (y - sPrev) + a1 * (level + trend)
          trend = beta * (level - prev) + b1 * trend
          s(slot) = gamma * (y - level) + g1 * sPrev
        }
        (t, hr, n, level, trend, s(slot))
      }
    }.sortBy(r => (r._1, r._2))
    assert(got.toSeq == want, "the typed fold must be BIT-identical to the replay")
  }

  test("cross-correlation and kendall tau: coefficients bounded, stats consistent") {
    val ccf = graft.operators.Stats.crossCorrelation(spark, dir).collect()
    assert(ccf.length == 13)
    ccf.foreach { r =>
      assert(r.getAs[Long]("n_hours") > 0)
      if (!r.isNullAt(2)) {
        val c = r.getAs[Double]("ccf")
        assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      }
    }
    val tau = graft.operators.Stats.kendallTau(spark, dir).collect().head
    val n0 = tau.getAs[Long]("n_pairs")
    assert(math.abs(tau.getAs[Long]("s")) <= n0)
    if (!tau.isNullAt(4)) {
      val t = tau.getAs[Double]("tau_b")
      assert(t >= -1.0 - 1e-9 && t <= 1.0 + 1e-9)
    }
  }

  test("two-proportion z: rates are the k/n ratios, arms partition the users") {
    val r = graft.operators.Stats.twoProportionZ(spark, dir).collect().head
    val (na, ka, nb, kb) = (r.getAs[Long]("na"), r.getAs[Long]("ka"),
      r.getAs[Long]("nb"), r.getAs[Long]("kb"))
    assert(ka <= na && kb <= nb)
    val users = graft.sources.Tables(spark, dir, "events")
      .select("user_id").distinct().count()
    assert(na + nb == users, "the two arms must partition the user base")
    assert(math.abs(r.getAs[Double]("rate_a") - ka.toDouble / na) < 1e-6)
  }

  test("lexical diversity: hapax <= types <= tokens, ratios in (0,1]") {
    val rows = graft.operators.TextAnalysis.lexicalDiversity(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nt, ty, hx) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_types"),
        r.getAs[Long]("n_hapax"))
      assert(hx <= ty && ty <= nt)
      assert(r.getAs[Double]("ttr") > 0.0 && r.getAs[Double]("ttr") <= 1.0)
      assert(r.getAs[Double]("hapax_frac") >= 0.0 && r.getAs[Double]("hapax_frac") <= 1.0)
    }
  }

  test("compression ratio: exact per-doc recompute, bounded, repetition compresses better") {
    def deflate(raw: Array[Byte]): Long = {
      val d = new java.util.zip.Deflater(6, false)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + raw.length / 1000 + 64)
      var off = 0
      while (!d.finished() && off < buf.length)
        off += d.deflate(buf, off, buf.length - off)
      d.end()
      off.toLong
    }
    val rows = TextAnalysis.compressionRatio(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (_, nb, nd) =>
      assert(nd <= nb + nb / 1000 + 64, "zlib worst-case expansion bound")
    }
    // byte-exact recompute for the first 20 docs — the fixed-level
    // Deflater contract the operator publishes
    val texts = Tables(spark, dir, "documents").orderBy("doc_id").limit(20)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("text")).toMap
    rows.filter(r => texts.contains(r._1)).foreach { case (id, nb, nd) =>
      val raw = texts(id).getBytes("UTF-8")
      assert(nb == raw.length && nd == deflate(raw), s"doc $id deflate mismatch")
    }
    // the direction the dial exists for: repeated content compresses
    // to a smaller fraction than the content itself
    val sample = texts(texts.keys.min)
    val r1 = deflate(sample.getBytes("UTF-8")).toDouble / sample.getBytes("UTF-8").length
    val bytes8 = (sample * 8).getBytes("UTF-8")
    val r8 = deflate(bytes8).toDouble / bytes8.length
    assert(r8 < r1, s"8x repetition ratio $r8 must beat $r1")
  }

  test("quantile norm: equal-size sources map onto one identical pooled grid") {
    val rows = TextAnalysis.quantileNorm(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val bySrc = rows.groupBy(_._1)
    // defining property: every source of the same size lands on the
    // SAME sorted vector of normalized values (the pooled grid)
    val grids = bySrc.values.map(_.map(_._4).sorted.toSeq).toSeq.distinct
    assert(grids.size == 1, s"expected one pooled grid, got ${grids.size}")
    // and the map is monotone: higher raw value never gets a lower
    // normalized value within a source
    bySrc.values.foreach { g =>
      val ordered = g.sortBy(x => (x._3, x._2)).map(_._4)
      ordered.zip(ordered.drop(1)).foreach { case (a, b) =>
        assert(a <= b, "normalization must be monotone")
      }
    }
  }

  test("zipf fit: slope/r2 match a direct OLS on ln(rank), ln(freq)") {
    val r = TextAnalysis.zipfFit(spark, dir).collect().head
    val counts = Tables(spark, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
      .groupBy("t").count().collect()
      .map(x => (x.getString(0), x.getLong(1)))
      .sortBy { case (t, n) => (-n, t) }.take(500)
    assert(r.getAs[Long]("n_ranks") == counts.length)
    val pts = counts.zipWithIndex.map { case ((_, n), i) =>
      (math.log(i + 1.0), math.log(n.toDouble))
    }
    val m = pts.length.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum; val syy = pts.map(p => p._2 * p._2).sum
    val vx = m * sxx - sx * sx; val vy = m * syy - sy * sy
    val cxy = m * sxy - sx * sy
    assert(math.abs(r.getAs[Double]("zipf_slope") - cxy / vx) < 1e-5, "slope mismatch")
    val r2 = r.getAs[Double]("r_squared")
    assert(math.abs(r2 - cxy * cxy / (vx * vy)) < 1e-5 && r2 >= 0 && r2 <= 1)
  }

  test("nb classifier: rows partition the corpus; separable fixture goes diagonal") {
    val rows = TextAnalysis.nbLangClassify(spark, dir).collect()
    val nDocs = Tables(spark, dir, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs,
      "every doc with an in-vocab token classifies exactly once")
    // vocabulary-separable fixture: langs with disjoint token sets must
    // re-classify onto the diagonal even against an adverse prior
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("nbfix").toString
    Seq(
      (1L, "aa bb aa bb aa", "xx", "s", 10L),
      (2L, "bb aa bb aa", "xx", "s", 10L),
      (3L, "aa aa bb", "xx", "s", 10L),
      (4L, "cc dd cc dd cc", "yy", "s", 10L),
      (5L, "dd cc dd", "yy", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(tmp + "/documents.parquet")
    val conf = TextAnalysis.nbLangClassify(spark, tmp).collect()
    assert(conf.nonEmpty)
    conf.foreach { c =>
      assert(c.getAs[String]("lang_true") == c.getAs[String]("lang_pred"),
        s"separable fixture must classify diagonally: $c")
    }
    assert(conf.map(_.getAs[Long]("n_docs")).sum == 5)
  }

  test("BH-FDR: rejections are exactly the rank prefix, p ascending in rank") {
    val rows = graft.operators.Stats.bhFdr(spark, dir).collect()
      .sortBy(_.getAs[Int]("p_rank"))
    assert(rows.nonEmpty)
    // ranks are the permutation 1..m
    assert(rows.map(_.getAs[Int]("p_rank")).toSeq == (1 to rows.length))
    // p ascending in rank among non-null rows (|z| desc == p asc), p in [0,1]
    val ps = rows.flatMap(r => Option(r.getAs[java.lang.Double]("p_value")))
      .map(_.doubleValue)
    assert(ps.zip(ps.drop(1)).forall { case (a, b) => a <= b + 1e-12 })
    assert(ps.forall(p => p >= 0.0 && p <= 1.0))
    // the BH step-up contract: rejected == a prefix of the ranking, and
    // the boundary rank istar satisfies p_(istar) <= alpha*istar/m
    val rejected = rows.takeWhile(_.getAs[Boolean]("rejected"))
    assert(rows.drop(rejected.length).forall(!_.getAs[Boolean]("rejected")),
      "rejections must form a contiguous rank prefix")
    if (rejected.nonEmpty) {
      val istar = rejected.length
      val pStar = rejected.last.getAs[Double]("p_value")
      assert(pStar <= 0.10 * istar / rows.length + 1e-12)
      // null-p rows (degenerate pooled rate) are never rejected
      assert(rejected.forall(!_.isNullAt(rejected.head.fieldIndex("p_value"))))
    }
  }

  test("n-gram repetition: gram counts match token counts, fractions in (0,1]") {
    val rows = graft.operators.TextAnalysis.ngramRepetition(spark, dir).collect()
    val nTok = Tables(spark, dir, "documents")
      .select(col("doc_id"), size(graft.operators.TextAnalysis.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.length == nTok.size, "one row per document")
    rows.foreach { r =>
      val t = nTok(r.getAs[Long]("doc_id"))
      val (nb, ntr) = (r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_trigrams"))
      // occurrence totals are exactly tokens-(n-1), floored at 0
      assert(nb == math.max(t - 1, 0), s"bigram occurrences for $t tokens")
      assert(ntr == math.max(t - 2, 0), s"trigram occurrences for $t tokens")
      if (nb > 0) {
        val f = r.getAs[Double]("top_bigram_frac")
        assert(f > 0.0 && f <= 1.0)
        assert(r.getAs[String]("top_bigram") != null)
        // the top gram's count is at least the mean occurrence share
        // (published frac is rounded to 6 decimals — allow half-ulp slack)
        assert(f >= 1.0 / nb - 5e-7)
      } else {
        assert(r.isNullAt(r.fieldIndex("top_bigram_frac")))
      }
      if (ntr > 0) {
        val d = r.getAs[Double]("dup_trigram_frac")
        assert(d >= 0.0 && d <= 1.0)
      } else assert(r.isNullAt(r.fieldIndex("dup_trigram_frac")))
    }
  }
}

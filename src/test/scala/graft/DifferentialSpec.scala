package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Differential fuzz suite (r19 verdict directive #4): the operators
  * whose correctness gates run benign fixture data are re-checked
  * against brute-force in-memory references over RANDOM inputs —
  * nulls, ties, duplicates, degenerate thresholds — across many seeded
  * rounds. Both r19 gate-blind defects lived exactly here: the as-of
  * join's per-column fill mixed right rows once the newest row carried
  * nulls (`AsOfJoin.scala:58` — the q43 gate's right side is
  * null-free), and connected components' `sum(label)` convergence key
  * threw on non-numeric string ids (`Dedup.scala:386` — the q212 gate
  * pre-hashes its ids). A differential suite with randomized
  * nulls/types would have caught both before any gate did.
  *
  * The references are deliberately naive (driver-side loops, O(n²)
  * Jaccard) — correctness oracles, not plans. Corpora stay tiny so the
  * quadratic reference and the many Spark jobs both run in seconds.
  */
class DifferentialSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val rng = new scala.util.Random(20260816L)

  // ---------------------------------------------------------------- as-of

  test("as-of join ≡ in-memory reference over random keys/ties/nulls/tolerances") {
    val keys = Seq("k1", "k2", "k3")
    (1 to 25).foreach { round =>
      // right times UNIQUE per key: with duplicate (key, time) right rows
      // the winner among exact ties is arbitrary in every engine (pandas
      // takes frame order, which Spark has no analogue of), so the
      // differential holds the contract where one is defined
      val right = keys.flatMap { k =>
        val times = rng.shuffle((0 until 120).toList).take(rng.nextInt(15))
        times.map { s =>
          val t = if (rng.nextInt(10) == 0) None
                  else Some(new Timestamp(s * 1000L))
          val v1 = if (rng.nextInt(4) == 0) None else Some(rng.nextInt(100).toDouble)
          val v2 = if (rng.nextInt(4) == 0) None else Some(s"s${rng.nextInt(50)}")
          (k, t, v1, v2)
        }
      }
      val left = (0 until (1 + rng.nextInt(30))).map { i =>
        val t = if (rng.nextInt(10) == 0) None
                else Some(new Timestamp(rng.nextInt(130) * 1000L))
        (i.toLong, keys(rng.nextInt(keys.length)), t)
      }
      val tol = Seq(-1L, 0L, 7L, 60L)(rng.nextInt(4))

      val leftDf = left.toDF("__id", "key", "t")
      val rightDf = right.toDF("key", "t", "v1", "v2")
      val got = graft.operators.AsOfJoin
        .backward(leftDf, rightDf, Seq("key"), "t", Seq("v1", "v2"), tol)
        .select("__id", "v1", "v2").collect()
        .map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) None else Some(r.getDouble(1)),
            if (r.isNullAt(2)) None else Some(r.getString(2)))))
        .toMap

      // reference: most recent right ROW (atomically, nulls included)
      // with non-null rt <= lt within tolerance; null left/right times
      // never match (NULL inequality)
      val rightByKey = right.filter(_._2.isDefined).groupBy(_._1)
      left.foreach { case (id, k, lt) =>
        val want: (Option[Double], Option[String]) = lt match {
          case None => (None, None)
          case Some(t) =>
            val cands = rightByKey.getOrElse(k, Nil).filter { r =>
              val rt = r._2.get.getTime
              rt <= t.getTime &&
                (tol < 0 || t.getTime - rt <= tol * 1000L)
            }
            if (cands.isEmpty) (None, None)
            else { val best = cands.maxBy(_._2.get.getTime); (best._3, best._4) }
        }
        assert(got(id) == want,
          s"round $round tol=$tol left=($id,$k,$lt): got ${got(id)}, want $want")
      }
      assert(got.size == left.size, s"round $round: row count changed")
    }
  }

  // ------------------------------------------- connected components

  /** Driver union-find oracle: min id per component over the non-null
    * pairs (self-loops register singletons; null-partnered pairs drop —
    * the contract the null-id spec pins). */
  private def ufRef[T](pairs: Seq[(Option[T], Option[T])])(
      implicit ord: Ordering[T]): Map[T, T] = {
    val valid = pairs.collect { case (Some(a), Some(b)) => (a, b) }
    val parent = scala.collection.mutable.Map.empty[T, T]
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    valid.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    parent.keys.toSeq.groupBy(find).flatMap { case (_, ns) =>
      val m = ns.min; ns.map(_ -> m)
    }
  }

  test("connectedComponents ≡ union-find over random graphs (long ids, both paths)") {
    (1 to 12).foreach { round =>
      val n = 2 + rng.nextInt(30)
      val pairs = (0 until (1 + rng.nextInt(50))).map { _ =>
        def node = if (rng.nextInt(12) == 0) None else Some(rng.nextInt(n).toLong)
        val a = node
        // self-loops (singleton registration) injected deliberately
        val b = if (rng.nextInt(8) == 0) a else node
        (a, b)
      }
      val want = ufRef(pairs)
      val df = pairs.toDF("a", "b")
      Seq(2000000, 0).foreach { lim => // driver union-find / forced loop
        val got = graft.operators.Dedup.connectedComponents(df, driverEdgeLimit = lim)
          .as[(Long, Long)].collect().toMap
        assert(got == want, s"round $round driverEdgeLimit=$lim")
      }
    }
  }

  test("connectedComponents ≡ union-find over random graphs (raw string ids)") {
    // non-numeric ids exercise the hash-sum convergence key (the r19
    // crash class) — ASCII ids so driver Ordering[String] and Spark's
    // binary string `min`/`least` agree
    (1 to 8).foreach { round =>
      val names = (0 until (2 + rng.nextInt(20)))
        .map(i => s"${('a' + rng.nextInt(26)).toChar}$i")
      val pairs = (0 until (1 + rng.nextInt(40))).map { _ =>
        def node = if (rng.nextInt(12) == 0) None
                   else Some(names(rng.nextInt(names.length)))
        val a = node
        val b = if (rng.nextInt(8) == 0) a else node
        (a, b)
      }
      val want = ufRef(pairs)
      val got = graft.operators.Dedup.connectedComponents(pairs.toDF("a", "b"))
        .as[(String, String)].collect().toMap
      assert(got == want, s"round $round")
    }
  }

  // ------------------------------------------- prefix-filter joins

  /** Pre-normalized random corpus (lowercase words, single spaces) so the
    * driver tokenizer — split on ' ' — is exactly hashedToks' semantics
    * modulo the (injective-in-practice) 40-bit token hash. Includes
    * exact duplicates, subsets, and empty docs. */
  private def randomCorpus(n: Int, vocab: IndexedSeq[String]): Seq[(Long, String)] = {
    val base = (0 until n).map { i =>
      val words = Seq.fill(rng.nextInt(12))(vocab(rng.nextInt(vocab.length)))
      (i.toLong, words.mkString(" "))
    }
    base.map {
      case (i, t) if i > 1 && rng.nextInt(5) == 0 => (i, base((i % 3).toInt)._2) // dup
      case (i, t) if rng.nextInt(7) == 0 =>
        (i, t.split(" ").filter(_.nonEmpty).take(2).mkString(" ")) // subset
      case other => other
    }
  }

  private def tokset(t: String): Set[String] = t.split(" ").filter(_.nonEmpty).toSet

  test("prefixFilterPairs ≡ brute-force O(n²) Jaccard incl. threshold 1.0") {
    val vocab = IndexedSeq("ant", "bee", "cat", "dog", "elk", "fox", "gnu",
      "hen", "ibis", "jay")
    val thresholds = Seq((1, 2), (2, 3), (4, 5), (1, 1))
    (1 to 10).foreach { round =>
      val docs = randomCorpus(4 + rng.nextInt(20), vocab)
      val (tNum, tDen) = thresholds(rng.nextInt(thresholds.length))
      val got = graft.operators.Dedup
        .prefixFilterPairs(docs.toDF("doc_id", "text"), "text", "doc_id",
          tNum, tDen)
        .select("a", "b", "intersection", "n_a", "n_b")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val sets = docs.map { case (id, t) => id -> tokset(t) }.toMap
      val want = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        sa = sets(a); sb = sets(b) if sa.nonEmpty && sb.nonEmpty
        i = (sa & sb).size
        if (tDen.toLong + tNum) * i >= tNum.toLong * (sa.size + sb.size)
      } yield (a, b, i.toLong, sa.size.toLong, sb.size.toLong)).toSet
      assert(got == want, s"round $round t=$tNum/$tDen: " +
        s"missing=${want -- got} extra=${got -- want}")
    }
  }

  test("prefixFilterJoin (R-S) ≡ brute-force, overlapping id spaces; capped " +
       "mode keeps top-k by (jaccard desc, b asc) with exact n_matches") {
    val vocab = IndexedSeq("ant", "bee", "cat", "dog", "elk", "fox")
    (1 to 8).foreach { round =>
      val left = randomCorpus(3 + rng.nextInt(10), vocab)
      val right = randomCorpus(3 + rng.nextInt(12), vocab) // ids overlap left's
      val (tNum, tDen) = Seq((1, 2), (2, 3), (1, 1))(rng.nextInt(3))
      val got = graft.operators.Dedup
        .prefixFilterJoin(left.toDF("doc_id", "text"), right.toDF("doc_id", "text"),
          "text", "doc_id", tNum, tDen)
        .select("a", "b", "intersection", "n_a", "n_b")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val ls = left.map { case (id, t) => id -> tokset(t) }.toMap
      val rs = right.map { case (id, t) => id -> tokset(t) }.toMap
      val want = (for {
        a <- left.map(_._1); b <- right.map(_._1)
        sa = ls(a); sb = rs(b) if sa.nonEmpty && sb.nonEmpty
        i = (sa & sb).size
        if (tDen.toLong + tNum) * i >= tNum.toLong * (sa.size + sb.size)
      } yield (a, b, i.toLong, sa.size.toLong, sb.size.toLong)).toSet
      assert(got == want, s"round $round t=$tNum/$tDen: " +
        s"missing=${want -- got} extra=${got -- want}")

      // capped mode: per left id, the k best by (Jaccard desc, b asc),
      // n_matches = TOTAL qualifying (loud truncation contract)
      val k = 1 + rng.nextInt(2)
      val capped = graft.operators.Dedup
        .prefixFilterJoin(left.toDF("doc_id", "text"), right.toDF("doc_id", "text"),
          "text", "doc_id", tNum, tDen, topKPerLeft = k)
        .select("a", "b", "n_matches")
        .as[(Long, Long, Long)].collect()
      val byA = want.groupBy(_._1)
      val wantCapped = byA.flatMap { case (a, rows) =>
        rows.toSeq.sortBy { case (_, b, i, na, nb) =>
          (-(i.toDouble / (na + nb - i).toDouble), b)
        }.take(k).map(r => (a, r._2, rows.size.toLong))
      }.toSet
      assert(capped.toSet == wantCapped, s"round $round capped k=$k")
    }
  }

  // --------------------------------------------- batch 2 (more seams)

  test("simHashPairs (exact mode) ≡ all-pairs hamming over the operator's " +
       "own simhashes — the pigeonhole banding loses no qualifying pair") {
    val vocab = IndexedSeq("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen")
    (1 to 8).foreach { round =>
      val docs = randomCorpus(5 + rng.nextInt(25), vocab)
        .filter(_._2.nonEmpty) // simhash of an empty token set is degenerate 0
      val maxHamming = rng.nextInt(4) // bands=4 → pigeonhole needs <= 3
      val df = docs.toDF("doc_id", "text")
      val got = graft.operators.Dedup
        .simHashPairs(df, "text", "doc_id", maxHamming = maxHamming,
          bands = 4, maxBucketSize = Int.MaxValue)
        .as[(Long, Long, Long)].collect().toSet
      // reference: the operator's own per-doc simhashes (the signature
      // function has its own oracle, q33), paired brute-force — this
      // checks the BANDED candidate generation, which is where a band
      // arithmetic defect would silently drop qualifying pairs
      val sh = graft.operators.Dedup.simHash(df, "text", "doc_id")
        .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
      val ids = docs.map(_._1)
      val want = (for {
        a <- ids; b <- ids if a < b
        h = java.lang.Long.bitCount(sh(a) ^ sh(b)).toLong
        if h <= maxHamming
      } yield (a, b, h)).toSet
      assert(got == want, s"round $round maxHamming=$maxHamming: " +
        s"missing=${want -- got} extra=${got -- want}")
    }
  }

  test("lshCandidatePairs (uncapped) ≡ band-equality over the signature " +
       "frame computed driver-side") {
    val vocab = IndexedSeq("ant", "bee", "cat", "dog", "elk")
    (1 to 8).foreach { round =>
      val docs = randomCorpus(5 + rng.nextInt(20), vocab).filter(_._2.nonEmpty)
      val df = docs.toDF("doc_id", "text")
      val (numHashes, bands) = Seq((8, 4), (6, 3), (4, 2))(rng.nextInt(3))
      val got = graft.operators.Dedup
        .lshCandidatePairs(df, "text", "doc_id", shingleK = 3,
          numHashes = numHashes, bands = bands,
          maxBucketSize = Int.MaxValue)
        .select("a", "b").as[(Long, Long)].collect().toSet
      // reference: a pair is a candidate iff SOME band's component
      // tuple matches exactly — computed from the signature frame (its
      // own values are oracle-gated by q31 and the PropertySpec
      // explode+groupBy differential), banded here in plain Scala
      val r = numHashes / bands
      val sigs = graft.operators.Dedup
        .minHashSignature(df, "text", "doc_id", shingleK = 3,
          numHashes = numHashes)
        .collect().map(row => row.getLong(0) ->
          (0 until numHashes).map(i => row.getLong(1 + i))).toMap
      val ids = sigs.keys.toSeq
      val want = (for {
        a <- ids; b <- ids if a < b
        if (0 until bands).exists(bd =>
          sigs(a).slice(bd * r, (bd + 1) * r) == sigs(b).slice(bd * r, (bd + 1) * r))
      } yield (a, b)).toSet
      assert(got == want, s"round $round n=$numHashes bands=$bands: " +
        s"missing=${want -- got} extra=${got -- want}")
    }
  }

  test("keepBestPerCluster ≡ driver reference over random clusters with " +
       "null/tied qualities") {
    (1 to 10).foreach { round =>
      val n = 5 + rng.nextInt(25)
      val docs = (0 until n).map { i =>
        (i.toLong,
          if (rng.nextInt(5) == 0) None else Some(rng.nextInt(4).toDouble))
      }
      val pairs = (0 until rng.nextInt(20)).map { _ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
      }
      val df = docs.toDF("doc_id", "quality")
      val kept = graft.operators.Dedup
        .keepBestPerCluster(df, pairs.toDF("a", "b"), "doc_id", "quality")
        .select("doc_id").as[Long].collect().toSet
      // reference: union-find the pairs; per cluster keep max quality
      // (null = -inf), ties by smallest id; untouched docs survive
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val rt = find(p); parent(x) = rt; rt }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
      val q = docs.toMap
      val want = docs.map(_._1).groupBy(find).values.map { cluster =>
        cluster.minBy(id => (-q(id).getOrElse(Double.NegativeInfinity), id))
      }.toSet
      assert(kept == want, s"round $round: kept=$kept want=$want")
    }
  }

  test("addOverpassId ≡ driver gap-walk over random timestamps with ties") {
    (1 to 10).foreach { round =>
      val keys = Seq("u1", "u2")
      val gap = 1 + rng.nextInt(20) // seconds
      val rows = (0 until (2 + rng.nextInt(40))).map { i =>
        (i.toLong, keys(rng.nextInt(2)),
          new Timestamp(rng.nextInt(120) * 1000L)) // dense → many ties
      }
      val got = graft.operators.Analysis
        .addOverpassId(rows.toDF("row_id", "user", "t"), gapSeconds = gap,
          time = "t", partitionBy = Seq("user"))
        .select("row_id", "overpass_id").as[(Long, Long)].collect().toMap
      // reference: per key, walk the sorted UNIQUE times assigning a
      // session index that increments when the gap is exceeded — tied
      // rows share their time's session id (the window's running sum
      // reads identically for every row of a tie group)
      rows.groupBy(_._2).foreach { case (_, rs) =>
        val uniq = rs.map(_._3.getTime).distinct.sorted
        val sess = scala.collection.mutable.Map.empty[Long, Long]
        var id = -1L; var prev = Long.MinValue
        uniq.foreach { t =>
          if (prev == Long.MinValue || t - prev > gap * 1000L) id += 1
          sess(t) = id; prev = t
        }
        rs.foreach { case (rid, _, t) =>
          assert(got(rid) == sess(t.getTime),
            s"round $round gap=$gap row $rid at $t: " +
              s"got ${got(rid)}, want ${sess(t.getTime)}")
        }
      }
    }
  }

  // ------------------- batch 3: transcribed-oracle seams
  // q135/q142's DuckDB oracles REPLAY the same algorithm in SQL, so a
  // shared misreading of the chunking/winnowing contract would pass the
  // gate on both sides — these references are independent driver walks.

  private def md5hex(s: String): String = org.apache.commons.codec.digest
    .DigestUtils.md5Hex(s)

  test("contentDefinedChunks ≡ driver rolling-boundary walk") {
    val alpha = "abcd" // tiny alphabet → frequent window repeats
    (1 to 10).foreach { round =>
      val docs = (0 until (3 + rng.nextInt(15))).map { i =>
        (i.toLong, Seq.fill(rng.nextInt(120))(alpha(rng.nextInt(4))).mkString)
      }
      val (window, zn) = (4, 1) // 1/16 boundary odds per position
      val got = graft.operators.Dedup
        .contentDefinedChunks(docs.toDF("doc_id", "text"), "text", "doc_id",
          window = window, zeroNibbles = zn)
        .select("doc_id", "chunk_no", "n_chars", "chunk_hash")
        .as[(Long, Int, Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
      docs.foreach { case (id, s) =>
        // boundaries: 1-indexed i in [window, len-1] where the md5 of
        // the trailing `window` chars [i-window+1 .. i] starts with
        // zeroNibbles zeros; never cut at len (no empty tail)
        val bounds = (window to s.length - 1).filter { i =>
          md5hex(s.substring(i - window, i)).startsWith("0" * zn) }
        val starts = 1 +: bounds.map(_ + 1)
        val ends = bounds :+ s.length
        val want = starts.zip(ends).zipWithIndex.collect {
          case ((st, en), no) if en - st + 1 > 0 =>
            (id, no, (en - st + 1).toLong, md5hex(s.substring(st - 1, en)))
        }
        assert(got.getOrElse(id, Nil) == want,
          s"round $round doc $id len=${s.length}")
      }
    }
  }

  test("winnowFingerprint + sketchJaccardCounts ≡ driver min-k walk") {
    val alpha = "abcde "
    (1 to 8).foreach { round =>
      val docs = (0 until (4 + rng.nextInt(10))).map { i =>
        (i.toLong, Seq.fill(1 + rng.nextInt(80))(alpha(rng.nextInt(6))).mkString
          .trim.replaceAll("\\s+", " ")) // pre-normalized
      }.filter(_._2.nonEmpty)
      val (shingleK, k) = (4, 6)
      def refSketch(s: String): Seq[String] = {
        val n = math.max(s.length - (shingleK - 1), 1)
        (1 to n).map(i => s.substring(i - 1, math.min(i - 1 + shingleK, s.length)))
          .distinct.map(md5hex).sorted.take(k)
      }
      val df = docs.toDF("doc_id", "text")
      val sk = graft.operators.TextAnalysis
        .winnowFingerprint(df, "text", "doc_id", shingleK, k)
      val got = sk.as[(Long, Seq[String])].collect().toMap
      docs.foreach { case (id, s) =>
        assert(got(id) == refSketch(s), s"round $round sketch of doc $id") }
      // pairwise estimator counts: X = k smallest of the sketch union,
      // overlap = |X ∩ A ∩ B|
      val ids = docs.map(_._1)
      val pairs = for (a <- ids; b <- ids if a < b) yield (a, b)
      val cnt = graft.operators.TextAnalysis
        .sketchJaccardCounts(sk, pairs.toDF("a", "b"), "doc_id", k)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      pairs.foreach { case (a, b) =>
        val (sa, sb) = (refSketch(docs.toMap.apply(a)), refSketch(docs.toMap.apply(b)))
        val x = (sa ++ sb).distinct.sorted.take(k)
        val want = (x.size.toLong,
          x.count(h => sa.contains(h) && sb.contains(h)).toLong)
        assert(cnt((a, b)) == want, s"round $round pair ($a,$b)")
      }
    }
  }

  // ------------------- batch 4: analytics seams

  test("funnelSteps + funnelCompletions ≡ driver greedy anchor walk over " +
       "random event streams with ties and noise") {
    val steps = Seq("view", "cart", "buy")
    val types = steps ++ Seq("noise", "other")
    (1 to 10).foreach { round =>
      val within = (1 + rng.nextInt(30)).toLong
      val events = (0 until (10 + rng.nextInt(120))).map { _ =>
        (s"u${rng.nextInt(8)}", types(rng.nextInt(types.length)),
          new Timestamp(rng.nextInt(60) * 1000L)) // dense → ties everywhere
      }
      val df = events.toDF("user", "etype", "t")
      val got = graft.operators.Analysis
        .funnelSteps(df, "user", "etype", "t", steps, within)
        .select("step", "n_users").as[(Int, Long)].collect().toMap
      val comp = graft.operators.Analysis
        .funnelCompletions(df, "user", "etype", "t", steps, within)
        .select("u", "t1", "tk").as[(String, Long, Long)].collect()
        .map { case (u, t1, tk) => u -> ((t1, tk)) }.toMap
      // reference: the implemented contract — anchor at the user's MIN
      // step-1 time, then greedily take the MIN step-i time strictly
      // after the previous step and at-or-before anchor + within
      val byUser = events.groupBy(_._1)
      val refChain = byUser.view.mapValues { evs =>
        val anchor = evs.filter(_._2 == steps.head).map(_._3.getTime * 1000L)
        if (anchor.isEmpty) None
        else {
          val t1 = anchor.min
          var tk = t1
          var reached = 1
          steps.drop(1).foreach { s =>
            val nxt = evs.filter(e => e._2 == s &&
              e._3.getTime * 1000L > tk && e._3.getTime * 1000L <= t1 +
                within * 1000000L).map(_._3.getTime * 1000L)
            if (reached == steps.indexOf(s) && nxt.nonEmpty) {
              tk = nxt.min; reached += 1
            }
          }
          Some((t1, tk, reached))
        }
      }.toMap
      steps.indices.foreach { i =>
        val want = refChain.values.count(r => r.exists(_._3 >= i + 1)).toLong
        assert(got(i + 1) == want,
          s"round $round within=$within step ${i + 1}: got ${got(i + 1)}, want $want")
      }
      val wantComp = refChain.collect {
        case (u, Some((t1, tk, r))) if r == steps.length => u -> (t1, tk) }
      assert(comp == wantComp, s"round $round completions")
    }
  }

  test("bpeTrain (batch=1) ≡ driver walk of the engine's spaced-replace " +
       "contract; bpeEncodeCounts ≡ per-word merge application") {
    val vocab = IndexedSeq("aba", "abab", "bab", "aabb", "ba", "abba", "bb")
    (1 to 4).foreach { round =>
      val docs = (0 until (4 + rng.nextInt(8))).map { i =>
        (i.toLong,
          Seq.fill(1 + rng.nextInt(12))(vocab(rng.nextInt(vocab.length)))
            .mkString(" "))
      }
      val merges = 3 + rng.nextInt(5)
      val df = docs.toDF("doc_id", "text")
      val table = graft.operators.TextAnalysis.bpeTrain(df, "text", merges)
      val got = table.orderBy("step")
        .select("step", "left_tok", "right_tok", "merged", "n")
        .as[(Int, String, String, String, Long)].collect().toSeq

      // driver reference of the ENGINE'S contract, same tie-break
      // (n desc, l asc, r asc). One deliberate deviation from textbook
      // BPE, found BY this differential and pinned here: the engine
      // merges via sequential non-overlapping replace of " l r " on the
      // space-joined symbol string, and each match CONSUMES the
      // separator space after r — so at a back-to-back site (e.g.
      // "abab" under (a,b)) the second occurrence loses its leading
      // space and does NOT merge this step; the site stays for a later
      // round's recount (and a re-learned pair or the encode-time
      // replay of the same table catches it). Textbook BPE merges both
      // occurrences in one pass. The q131/q132/q141 oracles MIRROR the
      // spaced-replace form, so this differential is the only
      // independent check; the deviation is documented at
      // TextAnalysis.bpeTrainBatched and in PERFNOTES r20.
      def mergeSeq(seq: Vector[String], l: String, r: String): Vector[String] = {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < seq.length) {
          if (i + 1 < seq.length && seq(i) == l && seq(i + 1) == r) {
            out += (l + r); i += 2
            // barred position: the token right after a match lost its
            // leading space and cannot START the next match
            if (i + 1 < seq.length && seq(i) == l && seq(i + 1) == r) {
              out += seq(i); i += 1
            }
          } else { out += seq(i); i += 1 }
        }
        out.result()
      }
      val wordFreq = docs.flatMap(_._2.split(" ").filter(_.nonEmpty))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      var wseqs: Map[String, Vector[String]] = wordFreq.keys
        .map(w => w -> (w.map(_.toString).toVector :+ "</w>")).toMap
      val want = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, String, Long)]
      var step = 1
      var dry = false
      while (step <= merges && !dry) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
          .withDefaultValue(0L)
        wseqs.foreach { case (w, seq) =>
          seq.sliding(2).foreach {
            case Seq(l, r) => counts((l, r)) += wordFreq(w)
            case _ => ()
          }
        }
        if (counts.isEmpty) dry = true
        else {
          val ((l, r), n) = counts.toSeq
            .sortBy { case ((l, r), n) => (-n, l, r) }.head
          want += ((step, l, r, l + r, n))
          wseqs = wseqs.map { case (w, seq) => w -> mergeSeq(seq, l, r) }
          step += 1
        }
      }
      assert(got == want.toSeq, s"round $round merges=$merges:\n" +
        s"got  $got\nwant ${want.toSeq}")

      // encode counts: whole-doc nested-replace ≡ per-word application
      val encGot = graft.operators.TextAnalysis
        .bpeEncodeCounts(df, "doc_id", "text", table)
        .select("doc_id", "n_words", "n_bpe_tokens")
        .as[(Long, Long, Long)].collect()
        .map { case (id, w, t) => id -> ((w, t)) }.toMap
      docs.foreach { case (id, text) =>
        val words = text.split(" ").filter(_.nonEmpty)
        val nTok = words.map { w =>
          var seq = w.map(_.toString).toVector :+ "</w>"
          want.foreach { case (_, l, r, _, _) => seq = mergeSeq(seq, l, r) }
          seq.length.toLong
        }.sum
        assert(encGot(id) == ((words.length.toLong, nTok)),
          s"round $round doc $id: got ${encGot(id)}, want (${words.length}, $nTok)")
      }
    }
  }

  test("eventPaths + touchAttribution ≡ driver prefix walks under (time, id) " +
       "tie-breaks") {
    val types = Seq("ad", "email", "visit", "buy", "noise")
    (1 to 10).foreach { round =>
      val k = 2 + rng.nextInt(4)
      val events = (0 until (10 + rng.nextInt(100))).map { i =>
        (i.toLong, s"u${rng.nextInt(6)}", types(rng.nextInt(types.length)),
          new Timestamp(rng.nextInt(40) * 1000L)) // dense ties
      }
      val df = events.toDF("event_id", "user", "etype", "t")
      val sortedByUser = events.groupBy(_._2).view
        .mapValues(_.sortBy(e => (e._4.getTime, e._1))).toMap

      val gotPaths = graft.operators.Analysis
        .eventPaths(df, "user", "etype", "t", "event_id", k)
        .as[(String, Long)].collect().toMap
      val wantPaths = sortedByUser.values
        .map(_.take(k).map(_._3).mkString(">"))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(gotPaths == wantPaths, s"round $round k=$k paths")

      val touches = Set("ad", "email", "visit")
      val gotAttr = graft.operators.Analysis
        .touchAttribution(df, "user", "etype", "t", "event_id",
          conversionType = "buy", touchTypes = touches.toSeq)
        .select("conversion_id", "first_touch_type", "first_touch_us",
          "last_touch_type", "last_touch_us")
        .collect().map(r => r.getLong(0) ->
          ((Option(r.getString(1)), if (r.isNullAt(2)) None else Some(r.getLong(2)),
            Option(r.getString(3)), if (r.isNullAt(4)) None else Some(r.getLong(4)))))
        .toMap
      sortedByUser.values.foreach { evs =>
        evs.zipWithIndex.foreach { case ((id, _, t, ts), idx) =>
          if (t == "buy") {
            val prefix = evs.take(idx + 1).filter(e => touches(e._3))
            val want =
              if (prefix.isEmpty) (None, None, None, None)
              else {
                val f = prefix.head; val l = prefix.last
                (Some(f._3), Some(f._4.getTime * 1000L),
                  Some(l._3), Some(l._4.getTime * 1000L))
              }
            assert(gotAttr(id) == want, s"round $round conversion $id")
          }
        }
      }
      assert(gotAttr.size == events.count(_._3 == "buy"), s"round $round rows")
    }
  }

  test("outlierFlags ≡ driver exact integer k-sigma test") {
    (1 to 10).foreach { round =>
      val k = 1 + rng.nextInt(3)
      val rows = (0 until (5 + rng.nextInt(60))).map { i =>
        (i.toLong, s"g${rng.nextInt(3)}",
          (rng.nextInt(2000) - 1000).toLong +
            (if (rng.nextInt(10) == 0) 50000L else 0L)) // injected outliers
      }
      val got = graft.operators.Analysis
        .outlierFlags(rows.toDF("id", "grp", "cents"), Seq("grp"),
          col("cents"), kSigma = k)
        .select("id", "is_outlier").as[(Long, Boolean)].collect().toMap
      rows.groupBy(_._2).foreach { case (_, rs) =>
        val n = rs.size.toLong
        val s = rs.map(_._3).sum
        val q = rs.map(v => v._3 * v._3).sum
        rs.foreach { case (id, _, c) =>
          val dev = c * n - s
          val want = dev * dev > k.toLong * k * (n * q - s * s)
          assert(got(id) == want, s"round $round k=$k row $id") }
      }
    }
  }

  test("swathIndices + overpassToGrid ≡ driver granule walk over random " +
       "swaths with gaps, holes and duplicate footprints") {
    // own seed: the rounds above keep their random stream
    val r = new scala.util.Random(20261020L)
    (1 to 6).foreach { round =>
      // unordered, non-contiguous granule ids; each granule an along range
      // starting anywhere, with dropped scans (gaps) and dropped footprints
      val granules = r.shuffle((0 until 500).toList).take(1 + r.nextInt(4))
      val (c0, nc) = (r.nextInt(6) - 2, 1 + r.nextInt(6))
      val fp = for {
        g <- granules
        a0 = r.nextInt(40)
        a <- a0 until a0 + 1 + r.nextInt(15)
        if a == a0 || r.nextInt(5) > 0
        c <- c0 until c0 + nc
        if r.nextInt(4) > 0
        dup <- 0 to (if (r.nextInt(8) == 0) 1 else 0)
      } yield (Option(s"$g-$a"), Option(c), dup)
      // rows with no granule, and rows with no cross-track id
      val extra = Seq.fill(r.nextInt(3))((Option.empty[String], Option(c0), 0)) ++
        fp.take(r.nextInt(3)).map { case (id, _, _) => (id, Option.empty[Int], 0) }
      val rows = (fp ++ extra).zipWithIndex.map { case ((id, c, _), rid) => (rid.toLong, id, c) }
      val df = rows.toDF("rid", "gpm_id", "gpm_cross_track_id").repartition(3)

      // reference: walk the granules in id order, shifting each along block
      // to start where the previous one ended
      val parsed = rows.collect { case (rid, Some(id), c) =>
        val Array(g, a) = id.split("-").map(_.toLong); (rid, g, a, c.map(_.toLong)) }
      var offset = 0L
      val shift = parsed.map(_._2).distinct.sorted.map { g =>
        val as = parsed.filter(_._2 == g).map(_._3)
        val gShift = offset - as.min
        offset += as.max - as.min + 1
        g -> gShift
      }.toMap
      val want = parsed.map { case (rid, g, a, c) => rid -> ((a + shift(g), c)) }.toMap

      val got = graft.operators.Analysis.swathIndices(df)
        .select("rid", "x_index", "y_index").as[(Long, Long, Option[Long])].collect()
        .map { case (rid, x, y) => rid -> ((x, y)) }.toMap
      assert(got == want, s"round $round swathIndices")

      // the dense grid: every (x, y) of [0, Σ widths) × [min y, max y] once,
      // filled by one of the rows indexed there (dropDuplicates keeps any)
      val ys = parsed.flatMap(_._4)
      val cells = if (ys.isEmpty) Nil else for (x <- 0L until offset; y <- ys.min to ys.max) yield (x, y)
      val byCell = want.toSeq.collect { case (rid, (x, Some(y))) => (x, y) -> rid }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val grid = graft.operators.Analysis.overpassToGrid(spark, df)
        .select("x_index", "y_index", "rid").as[(Long, Long, Option[Long])].collect()
      assert(grid.map(g => (g._1, g._2)).sorted.toSeq == cells, s"round $round grid cells")
      grid.foreach { case (x, y, rid) =>
        val cands = byCell.getOrElse((x, y), Set.empty[Long])
        assert(rid.fold(cands.isEmpty)(cands), s"round $round cell ($x, $y): $rid of $cands")
      }
      assert(grid.count(_._3.isDefined) == byCell.size, s"round $round filled cells")
    }
  }
}

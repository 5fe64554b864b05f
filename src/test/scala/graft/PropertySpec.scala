package graft

import java.time.LocalDate

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core._
import graft.functions.Macros
import graft.operators.{Ntile, TopK}

/** Property-style checks: operator semantics against independent
  * in-memory models over seeded ScalaCheck generators (driven
  * directly — deterministic, no scalatestplus bridge needed).
  */
class PropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val batchGen: Gen[List[(Long, String, Int)]] =
    Gen.listOfN(40, Gen.zip(
      Gen.choose(0L, 9L),
      Gen.alphaLowerStr.map(s => if (s.isEmpty) "x" else s.take(4)),
      Gen.choose(0, 20)))

  test("incremental merge == latest-per-key of both batches (incoming wins)") {
    for (i <- 1 to 8) {
      val b1 = sample(batchGen, 100 + i)
      val b2 = sample(batchGen, 200 + i)
      // reference model: per key, batch2 (incoming) beats batch1; the
      // winning row carries the batch's max watermark. Value ties on
      // equal wm are broken arbitrarily by row_number, so compare the
      // winning watermark, which IS deterministic.
      def bestWm(rows: List[(Long, String, Int)]): Map[Long, Int] =
        rows.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
      val expected = bestWm(b1) ++ bestWm(b2)

      val wh = Warehouse.scratch(spark, "prop_merge")
      val mat = Materializer(wh)
      val model = Model("t", Seq("src"),
        Materialization.Incremental(IncrementalStrategy.Merge(Seq("k"), Some("wm"))),
        ctx => ctx.source("src"))
      def df(rows: List[(Long, String, Int)]) =
        spark.createDataFrame(rows).toDF("k", "v", "wm")
      mat.run(model, _ => df(b1))
      val out = mat.run(model, _ => df(b2))
      val got = out.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(got == expected, s"iteration $i")
    }
  }

  test("TopK.perGroup == naive window top-k on random data") {
    val rowGen = Gen.listOfN(60, Gen.zip(
      Gen.choose(0, 3), Gen.choose(0, 1000), Gen.choose(0L, 100000L)))
    for (i <- 1 to 6) {
      val rows = sample(rowGen, 300 + i).distinct // unique rows => total order
      val k = 1 + i % 5
      val df = spark.createDataFrame(rows).toDF("g", "s", "id")
      val naive = df.withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(col("s").desc, col("id"))))
        .filter(col("rn") <= k)
        .collect().map(r => (r.getInt(0), r.getInt(3), r.getLong(2))).toSet
      val two = TopK.perGroup(df, Seq(col("g")),
          Seq(col("s").desc, col("id")), k)
        .collect().map(r => (r.getInt(0), r.getInt(3), r.getLong(2))).toSet
      assert(two == naive, s"iteration $i (k=$k)")
    }
  }

  test("Ntile.exact == ntile() on a skewed frame incl. NULL partition keys") {
    import spark.implicits._
    // skewed: ~60% of rows in one hot key, a NULL-key group, small tails
    val rowGen = Gen.listOfN(400, Gen.zip(
      Gen.frequency(
        6 -> Gen.const(Option("hot")),
        1 -> Gen.const(Option.empty[String]),
        2 -> Gen.choose(0, 2).map(i => Option(s"k$i")),
        1 -> Gen.const(Option("tail"))),
      Gen.choose(0, 50)))
    for (i <- 1 to 4) {
      val rows = sample(rowGen, 700 + i).zipWithIndex
        .map { case ((k, v), id) => (k, v, id.toLong) } // id => total order
      val k = Seq(2, 3, 4, 7)(i - 1)
      val df = rows.toDF("g", "v", "id").repartition(8)
      val naive = df.withColumn("b", ntile(k).over(
          Window.partitionBy("g").orderBy("v", "id")))
        .collect().map(r => (Option(r.getString(0)), r.getLong(2), r.getInt(3))).toSet
      val exact = Ntile.exact(df, k, Seq("g"), Seq("v", "id"), "b")
        .collect().map(r => (Option(r.getString(0)), r.getLong(2), r.getInt(3))).toSet
      assert(exact.size == rows.size, s"k=$k: NULL-keyed rows must not drop")
      assert(exact == naive, s"k=$k")
    }
  }

  test("connectedComponents == union-find on random graphs") {
    import graft.operators.DupGroups
    val edgeGen = Gen.listOfN(50, Gen.zip(Gen.choose(0L, 29L), Gen.choose(0L, 29L)))
      .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct)
    for (i <- 1 to 6) {
      val edges = sample(edgeGen, 600 + i)
      if (edges.nonEmpty) {
        // reference model: path-compressing union-find, component
        // label = min node id (same canonical rule)
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        def union(a: Long, b: Long): Unit = {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb); () }
        }
        edges.foreach { case (a, b) => union(a, b) }
        val expected = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
          .map(n => n -> find(n)).toMap

        val df = spark.createDataFrame(edges).toDF("id_a", "id_b")
        val got = DupGroups.connectedComponents(df).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"iteration $i (${edges.size} edges)")
      }
    }
  }

  test("connectedComponents converges on a 50-node chain in O(log d) rounds") {
    import graft.operators.DupGroups
    // worst case for plain label propagation: a single path graph of
    // diameter 49 (templated/boilerplate corpora form exactly these
    // chains). Pointer jumping must converge WELL under the plain
    // propagation bound of 49 rounds — maxIter=10 only admits the
    // O(log d) path (2^10 >> 49 but 10 << 49).
    val edges = (0L until 49L).map(i => (i, i + 1))
    val df = spark.createDataFrame(edges).toDF("id_a", "id_b")
    val got = DupGroups.connectedComponents(df, maxIter = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 49L).map(_ -> 0L).toMap)
  }

  test("Packing.offsets == sequential fold on random corpora") {
    import graft.operators.Packing
    val docGen: Gen[List[(Long, Int)]] =
      Gen.listOfN(60, Gen.choose(0, 40)).map(_.zipWithIndex
        .map { case (n, i) => (i.toLong * 3 + 1, n) }) // sparse, unsorted-safe ids
    for (i <- 1 to 4) {
      val docs = sample(docGen, seed = 5000 + i)
      // build synthetic texts with exactly n one-char tokens ("a a a")
      val df = spark.createDataFrame(
        docs.map { case (id, n) => (id, List.fill(math.max(n, 1))("a").mkString(" ")) })
        .toDF("doc_id", "text")
      // sequential model: fold in doc_id order; every text has
      // max(n,1) tokens (split of a non-empty string is never empty)
      val expected = docs.sortBy(_._1)
        .scanLeft((0L, 0L)) { case ((_, acc), (id, n)) =>
          (id, acc + math.max(n, 1)) }
        .sliding(2).map { case Seq((_, acc), (id, _)) => id -> acc }.toMap
      val got = Packing.offsets(df, numParts = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == expected, s"iteration $i")
    }
  }

  test("Bench.median == middle of the sorted sample") {
    val xs = Gen.listOfN(9, Gen.choose(0.0, 100.0))
    for (i <- 1 to 6) {
      val v = sample(xs, 900 + i).take(3 + i % 5)
      val s = v.sorted
      val expected =
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      assert(Bench.median(v) == expected, s"iteration $i ($v)")
    }
    assert(Bench.median(Nil) == 0.0)
  }

  test("yearsBetween == java.time full-year difference") {
    import spark.implicits._
    val dateGen = for {
      y <- Gen.choose(1990, 2020); m <- Gen.choose(1, 12); d <- Gen.choose(1, 28)
    } yield LocalDate.of(y, m, d)
    val cases = (1 to 60).map { i =>
      val a = sample(dateGen, 400L + i); val b = sample(dateGen, 500L + i)
      if (a.isBefore(b)) (a, b) else (b, a)
    }
    val got = cases.map { case (s, a) => (s.toString, a.toString) }
      .toDF("start", "as_of")
      .select(Macros.yearsBetween(col("as_of").cast("date"),
        col("start").cast("date")).as("y"))
      .collect().map(_.getInt(0)).toSeq
    val expected = cases.map { case (s, a) =>
      java.time.Period.between(s, a).getYears }
    assert(got == expected)
  }

  test("academicYear boundary: August splits the label") {
    import spark.implicits._
    val got = Seq("2001-07-31", "2001-08-01").toDF("d")
      .select(Macros.academicYear(col("d").cast("date")).as("ay"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("2000-2001", "2001-2002"))
  }

  // one row per key per batch (the unique_key contract), ~1/4 deletes
  private val morBatchGen: Gen[List[(Long, String, Boolean)]] =
    Gen.listOfN(25, Gen.zip(
      Gen.choose(0L, 11L),
      Gen.alphaLowerStr.map(s => if (s.isEmpty) "x" else s.take(4)),
      Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))))
      .map(_.distinctBy(_._1))

  test("merge-on-read == in-memory map fold over random commit sequences") {
    for (i <- 1 to 5) {
      val base = sample(morBatchGen, 500 + i).filterNot(_._3)
      val commits = (1 to 3).map(j => sample(morBatchGen, 600 + 10 * i + j))
      // reference model: fold upserts/deletes over a map
      val expected = commits.foldLeft(
          base.map(r => r._1 -> r._2).toMap) { (m, batch) =>
        batch.foldLeft(m) { case (acc, (k, v, del)) =>
          if (del) acc - k else acc + (k -> v)
        }
      }
      val wh = Warehouse.scratch(spark, "prop_mor")
      def df(rows: List[(Long, String, Boolean)]) =
        spark.createDataFrame(rows).toDF("k", "v", "__del")
      MergeOnRead.init(wh, "s", "t", df(base).drop("__del"))
      commits.zipWithIndex.foreach { case (b, j) =>
        MergeOnRead.merge(wh, "s", "t", df(b), "k", Some("__del"))
        // compacting mid-sequence must be invisible to later reads
        if (j == i % 3) MergeOnRead.compact(wh, "s", "t", "k")
      }
      val got = MergeOnRead.read(wh, "s", "t", "k")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expected, s"iteration $i")
    }
  }

  test("branches == in-memory lineage model over random ref-op interleavings") {
    // m54's algebra fuzzed: a random interleaving of branch commits,
    // ref creations (branch or tag, at head or at an ancestor), and
    // fast-forwards must keep every ref's read equal to a model that
    // tracks (lineage, per-version content) as plain Scala data —
    // including which operations REFUSE (tag mutation, divergent ff)
    import spark.implicits._
    for (iter <- 1 to 2) {
      val rnd = new scala.util.Random(4000 + iter)
      val wh = Warehouse.scratch(spark, s"prop_br$iter")
      TimeTravel.commit(wh, "s", "t",
        Seq((0L, "seed")).toDF("k", "v"), "overwrite")
      var lineage = Map("main" -> Vector(1))
      var tags = Set.empty[String]
      var content = Map(1 -> Set(0L -> "seed"))
      var nextV = 2
      var nextRef = 0
      def check(step: Int): Unit =
        for (r <- lineage.keys) {
          val got = Branches.read(wh, "s", "t", r).collect()
            .map(x => x.getLong(0) -> x.getString(1)).toSet
          assert(got == content(lineage(r).last),
            s"iter $iter step $step ref $r")
        }
      for (step <- 1 to 10) {
        val refs = lineage.keys.toVector.sorted
        rnd.nextInt(3) match {
          case 0 =>
            val r = refs(rnd.nextInt(refs.size))
            val row = (nextV.toLong, s"b$nextV")
            val mode = if (rnd.nextBoolean()) "append" else "overwrite"
            val df = Seq(row).toDF("k", "v")
            if (tags(r))
              intercept[IllegalArgumentException] {
                Branches.commitTo(wh, "s", "t", r, df, mode)
              }
            else {
              val v = Branches.commitTo(wh, "s", "t", r, df, mode)
              assert(v == nextV, "version slots are allocated globally")
              val parent = content(lineage(r).last)
              content += nextV ->
                (if (mode == "append") parent + row else Set(row))
              lineage += r -> (lineage(r) :+ nextV)
              nextV += 1
            }
          case 1 =>
            val from = refs(rnd.nextInt(refs.size))
            val name = s"r$nextRef"; nextRef += 1
            val lin = lineage(from)
            val at = lin(rnd.nextInt(lin.size))
            val tag = rnd.nextBoolean()
            Branches.create(wh, "s", "t", name, from = from, tag = tag, at = at)
            lineage += name -> (lin.takeWhile(_ < at) :+ at)
            if (tag) tags += name
          case 2 =>
            val to = refs(rnd.nextInt(refs.size))
            val from = refs(rnd.nextInt(refs.size))
            if (!tags(to) && lineage(from).startsWith(lineage(to))) {
              Branches.fastForward(wh, "s", "t", to = to, from = from)
              lineage += to -> lineage(from)
            } else
              intercept[IllegalArgumentException] {
                Branches.fastForward(wh, "s", "t", to = to, from = from)
              }
        }
        if (step % 3 == 0) check(step)
      }
      check(99)
    }
  }

  test("column mapping == in-memory field-id model over random evolution sequences") {
    // m55's algebra fuzzed: a random interleaving of rename / drop /
    // add / append must keep the logical read equal to a model that
    // tracks fields as (id, name) and rows as id-keyed maps — the
    // field-id semantics (no resurrection, renames span eras) fall
    // out of the model by construction
    import spark.implicits._
    for (iter <- 1 to 2) {
      val rnd = new scala.util.Random(6000 + iter)
      val root = Warehouse.scratch(spark, s"prop_cm$iter").path("s", "t")
      // model: live fields (id, name); rows as Map[fieldId -> value]
      var live = Vector(0 -> "k", 1 -> "a", 2 -> "b")
      var nextId = 3
      var nextName = 0
      var rows = Vector.tabulate(3)(i =>
        Map(0 -> i.toLong, 1 -> (i + 10).toLong, 2 -> (i + 20).toLong))
      var nextK = 3L
      def df(vs: Seq[Map[Int, Long]]) = {
        val names = live.map(_._2)
        spark.createDataFrame(
          spark.sparkContext.parallelize(vs.map(m =>
            org.apache.spark.sql.Row.fromSeq(live.map(f => m(f._1))))),
          org.apache.spark.sql.types.StructType(names.map(n =>
            org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.LongType))))
      }
      var t = ColumnMapping.create(df(rows), root)
      for (step <- 1 to 8) {
        rnd.nextInt(4) match {
          case 0 if live.size > 1 => // rename a random non-key field
            val (id, old) = live(1 + rnd.nextInt(live.size - 1))
            val nn = s"c$nextName"; nextName += 1
            t = ColumnMapping.rename(t, old, nn)
            live = live.map { case (i, n) => if (i == id) (i, nn) else (i, n) }
          case 1 if live.size > 2 => // drop a random non-key field
            val (id, name) = live(1 + rnd.nextInt(live.size - 1))
            t = ColumnMapping.drop(t, name)
            live = live.filterNot(_._1 == id)
          case 2 => // add a fresh field (sometimes recycling a name)
            val nn = if (rnd.nextBoolean() && !live.exists(_._2 == "a")) "a"
              else { val s = s"c$nextName"; nextName += 1; s }
            if (!live.exists(_._2 == nn)) {
              t = ColumnMapping.addColumn(t, nn, "BIGINT")
              live = live :+ (nextId -> nn); nextId += 1
            }
          case _ => // append a batch carrying the current live fields
            val batch = Vector.tabulate(2) { i =>
              live.map(f => f._1 -> (nextK * 100 + i * 10 + f._1)).toMap
                .updated(0, nextK + i)
            }
            nextK += 2
            t = ColumnMapping.append(t, df(batch))
            rows ++= batch
        }
        val got = ColumnMapping.read(spark, t).orderBy("k").collect()
          .map(r => live.indices.map(i =>
            if (r.isNullAt(i)) None else Some(r.getLong(i))).toVector).toVector
        val want = rows.sortBy(_(0)).map(m =>
          live.map(f => m.get(f._1)).toVector)
        assert(got == want, s"iter $iter step $step live=$live")
      }
    }
  }

  test("change data feed == in-memory snapshot diff on random tables") {
    val snapGen = Gen.listOfN(18, Gen.zip(Gen.choose(0L, 24L), Gen.choose(0, 5)))
      .map(_.distinctBy(_._1))
    for (i <- 1 to 5) {
      val a = sample(snapGen, 900 + i)
      val b = sample(snapGen, 950 + i)
      val (ma, mb) = (a.toMap, b.toMap)
      val expected =
        mb.view.filterKeys(k => !ma.contains(k))
          .map { case (k, v) => (k, v, "insert") }.toSet ++
        ma.view.filterKeys(k => !mb.contains(k))
          .map { case (k, v) => (k, v, "delete") }.toSet ++
        ma.keySet.intersect(mb.keySet).filter(k => ma(k) != mb(k))
          .flatMap(k => Set((k, ma(k), "update_preimage"),
            (k, mb(k), "update_postimage")))
      val wh = Warehouse.scratch(spark, "prop_cdf")
      def df(rows: List[(Long, Int)]) =
        spark.createDataFrame(rows).toDF("k", "v")
      TimeTravel.commit(wh, "s", "t", df(a), "overwrite")
      TimeTravel.commit(wh, "s", "t", df(b), "overwrite")
      val got = TimeTravel.changes(wh, "s", "t", 1, 2, Seq("k"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(got == expected, s"iteration $i")
    }
  }

  test("time travel versions == fold of commit modes on random batches") {
    val modeGen = Gen.frequency(1 -> Gen.const("overwrite"), 2 -> Gen.const("append"))
    val rowsGen = Gen.listOfN(12, Gen.zip(Gen.choose(0L, 50L), Gen.choose(0, 999)))
    for (i <- 1 to 4) {
      val ops = (1 to 4).map(j => (
        // v1 must exist before an append can share anything; any mode works
        sample(modeGen, 700 + 10 * i + j),
        sample(rowsGen, 800 + 10 * i + j)))
      // reference model: per version, overwrite replaces, append concats
      val expected = ops.scanLeft(List.empty[(Long, Int)]) {
        case (prev, (mode, rows)) =>
          if (mode == "append") prev ++ rows else rows
      }.drop(1)
      val wh = Warehouse.scratch(spark, "prop_tt")
      def df(rows: List[(Long, Int)]) =
        spark.createDataFrame(rows).toDF("k", "v")
      ops.foreach { case (mode, rows) =>
        TimeTravel.commit(wh, "s", "t", df(rows), mode)
      }
      // every historical version still answers its own multiset
      expected.zipWithIndex.foreach { case (exp, idx) =>
        val got = TimeTravel.read(wh, "s", "t", version = idx + 1)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toList
        assert(got.sorted == exp.sorted, s"iteration $i version ${idx + 1}")
      }
    }
  }

  test("WindowHashes.roll == direct polynomial evaluation on random token arrays") {
    import graft.plans.WindowHashes
    val b = 0x9E3779B97F4A7C15L
    def direct(tok: Array[Long], w: Int): Array[Long] =
      (0 to tok.length - w).map { i =>
        var h = 0L
        var j = 0
        while (j < w) { h = h * b + tok(i + j); j += 1 }
        h
      }.toArray
    for (i <- 1 to 30) {
      val n = sample(Gen.choose(0, 40), 9000 + i)
      val tok = sample(Gen.listOfN(n, Gen.choose(Long.MinValue, Long.MaxValue)), 9100 + i).toArray
      val w = sample(Gen.choose(1, 12), 9200 + i)
      val exp = if (n < w) Array.emptyLongArray else direct(tok, w)
      assert(WindowHashes.roll(tok, w).toSeq == exp.toSeq,
        s"n=$n w=$w: the rolling update must equal the direct polynomial")
    }
  }
  test("MisraGries properties: capacity bound, never-overcount, N/(cap+1) undercount, exact regime") {
    import spark.implicits._
    val itemGen: Gen[List[String]] = for {
      vocab <- Gen.choose(3, 40)
      n <- Gen.choose(50, 400)
      // zipf-ish skew: item index drawn as min of two uniforms
      items <- Gen.listOfN(n, Gen.zip(Gen.choose(0, vocab - 1),
        Gen.choose(0, vocab - 1)).map { case (a, b) => s"w${math.min(a, b)}" })
    } yield items
    for (i <- 1 to 10) {
      val items = sample(itemGen, 4200 + i)
      val cap = sample(Gen.choose(4, 64), 9000 + i)
      val truth = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val got = items.toDF("w").repartition(5)
        .agg(graft.plans.Sketches.approxTopItems(col("w"), cap).as("s"))
        .select(explode(col("s")).as("e"))
        .select(col("e.item"), col("e.count"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.size <= cap, s"iter $i: summary ${got.size} over capacity $cap")
      got.foreach { case (k, n) =>
        assert(n <= truth(k), s"iter $i: $k overcounted $n > ${truth(k)}") }
      // mergeable-summaries guarantee: undercount <= N/(cap+1) per
      // partial, merges add at most one decrement round each — bound
      // by N/(cap+1) + merge slack; assert the safe 2N/(cap+1) bound
      val bound = 2L * items.size / (cap + 1) + 1
      truth.foreach { case (k, n) =>
        val rep = got.getOrElse(k, 0L)
        assert(n - rep <= bound,
          s"iter $i: $k undercount ${n - rep} > bound $bound (n=$n cap=$cap)")
      }
      if (truth.size <= cap) assert(got == truth,
        s"iter $i: exact regime (distinct=${truth.size} <= cap=$cap) not exact")
    }
  }

  test("KmvDistinct properties: exact regime, estimator error, partition invariance") {
    import spark.implicits._
    def est(n: Long, mod: Long, k: Int, parts: Int): Long =
      spark.range(n).select((col("id") % mod).as("v"))
        .repartition(parts)
        .agg(graft.plans.Sketches.kmvDistinct(xxhash64(col("v")), k))
        .collect()(0).getLong(0)
    // exact regime: k greater than the true distinct count → exact,
    // regardless of duplication factor or partitioning
    assert(est(20000, 997, 4096, 7) == 997L)
    assert(est(500, 500, 512, 3) == 500L)
    // estimator regime: 200k distincts through k=256 — KMV's relative
    // standard error is ~1/sqrt(k-2) ≈ 6.3%; assert a generous 4-sigma
    val e = est(200000, 200000, 256, 11)
    assert(math.abs(e - 200000.0) / 200000.0 < 0.25,
      s"kmv estimate $e too far from 200000")
    // partition invariance: the bottom-k of a SET does not depend on
    // how rows are distributed — the sketch is deterministic where
    // order-sensitive summaries (Misra-Gries) are not
    assert(est(200000, 200000, 256, 1) == e)
    assert(est(200000, 200000, 256, 32) == e)
  }

  test("KmvSketch set-operation estimates: exact regime equals set math, sketch regime within error, partition invariant") {
    // two populations with known overlap: A=[0,3000), B=[2000,6000) →
    // |A∩B|=1000, |A∪B|=6000, J=1/6. Hashes are x38's engine-portable
    // md5-60-bit family, so values are in [0, 2^60) and signed sort
    // order == unsigned order.
    def sk(lo: Long, hi: Long, k: Int, parts: Int): Array[Long] =
      spark.range(lo, hi).repartition(parts)
        .select(conv(substring(md5(col("id").cast("string").cast("binary")),
          1, 15), 16, 10).cast("long").as("h"))
        .agg(graft.plans.Sketches.kmvSketch(col("h"), k))
        .collect()(0).getSeq[Long](0).toArray
    def ests(k: Int, pa: Int, pb: Int): (Double, Double, Double, Int) = {
      val a = sk(0, 3000, k, pa)
      val b = sk(2000, 6000, k, pb)
      // x38's combine: bottom-k of the merged sketches == bottom-k of
      // the union; match fraction estimates Jaccard
      val s = (a ++ b).distinct.sorted.take(k)
      val (ia, ib) = (a.toSet, b.toSet)
      val m = s.count(x => ia(x) && ib(x))
      val j = m.toDouble / s.length
      val u = if (s.length < k) s.length.toDouble
        else (k - 1).toDouble * 1.152921504606846976e18 / s.last
      (j, u, j * u, s.length)
    }
    // exact regime: k covers the union → the estimates ARE the set math
    val (je, ue, ie, ks) = ests(8192, 5, 3)
    assert(ks == 6000 && ue == 6000.0, s"exact regime union ($ks, $ue)")
    assert(math.abs(je - 1000.0 / 6000) < 1e-12 && math.round(ie) == 1000L,
      s"exact regime overlap ($je, $ie)")
    // sketch regime: k=256 ≪ 6000 distincts — RSE ~1/√k on each piece
    val (j2, u2, i2, _) = ests(256, 7, 4)
    assert(math.abs(j2 - 1.0 / 6) < 0.1, s"jaccard est $j2 vs 1/6")
    assert(math.abs(u2 - 6000) / 6000 < 0.25, s"union est $u2 vs 6000")
    assert(math.abs(i2 - 1000) / 1000 < 0.5, s"intersection est $i2 vs 1000")
    // partition invariance: sketches are order-free, so the estimates
    // (and x38's oracle hashes) cannot depend on the layout
    assert(sk(0, 3000, 256, 1).toSeq == sk(0, 3000, 256, 13).toSeq)
    // entry-level sanity on the live corpus: one row per source pair,
    // estimates well-formed and bounded by the sketch contract
    val out = graft.queries.TextQueries.x38.run(spark, sfDir).collect()
    val nSrc = graft.sources.Catalog(spark, sfDir).documents
      .select("source").distinct().count()
    assert(out.length == nSrc * (nSrc - 1) / 2, "one row per source pair")
    out.foreach { r =>
      val (kS, j) = (r.getLong(2), r.getDouble(4))
      assert(kS > 0 && kS <= 1024 && j >= 0.0 && j <= 1.0,
        s"malformed estimate row $r")
    }
  }

  test("lshIngest: ANY batch split of the corpus reconstructs the full recompute, each pair exactly once") {
    import spark.implicits._
    val docs = graft.sources.Catalog(spark, sfDir).documents
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val full = graft.operators.Dedup
      .minhashPairs(graft.sources.Catalog(spark, sfDir).documents,
        n = 3, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (seed <- 1L to 3L) {
      // random 3-way split with random batch order — the ingest
      // theorem must hold for EVERY arrival schedule
      val assign = sample(Gen.listOfN(docs.size, Gen.choose(0, 2)), seed)
      val batches = docs.zip(assign).groupBy(_._2).toSeq.sortBy(_._1)
        .map(_._2.map(_._1))
      val store = graft.core.Scratch.dir(s"lshfuzz$seed").toString
      val emitted = batches.flatMap { b =>
        graft.operators.Dedup.lshIngest(b.toDF("doc_id", "text"),
            s"$store/docs", s"$store/index", n = 3, threshold = 0.5)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      assert(emitted.toSet == full, s"seed $seed: split changed the pair set")
      assert(emitted.size == full.size, s"seed $seed: a pair emitted twice")
    }
  }

  test("lshIngest: a crash-retried batch (bands in the index, docs absent from the store) emits no self-pairs and completes the exact pair set") {
    import spark.implicits._
    val cat = graft.sources.Catalog(spark, sfDir)
    val docs = cat.documents
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val (b1, b2) = docs.splitAt(docs.size / 2)
    val full = graft.operators.Dedup
      .minhashPairs(cat.documents, n = 3, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val store = graft.core.Scratch.dir("lshretry").toString
    val first = graft.operators.Dedup.lshIngest(b1.toDF("doc_id", "text"),
        s"$store/docs", s"$store/index", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // simulate an attempt that crashed between the two state appends:
    // batch 2's bands reached the index, but the store append (the
    // commit marker) did not — run the batch, then roll the store
    // back to its pre-batch content
    graft.operators.Dedup.lshIngest(b2.toDF("doc_id", "text"),
      s"$store/docs", s"$store/index", n = 3, threshold = 0.5).collect()
    val b1Ids = b1.map(_._1).toSet
    val preCrash = spark.read.parquet(s"$store/docs")
      .as[(Long, String)].collect().filter(r => b1Ids.contains(r._1)).toSeq
    preCrash.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$store/docs")
    // the retry sees the batch as fresh (exactly-once contract says
    // its pairs were never delivered) with its own leftover bands in
    // the index: it must re-emit the batch's pairs once each, with
    // ZERO degenerate self-pairs
    val retry = graft.operators.Dedup.lshIngest(b2.toDF("doc_id", "text"),
        s"$store/docs", s"$store/index", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(retry.forall { case (a, b) => a != b },
      "retry leaked degenerate self-pairs (id_a == id_b)")
    assert((first ++ retry).toSet == full,
      "crash-retry changed the reconstructed pair set")
    assert(first.size + retry.size == full.size,
      "a pair was emitted twice across the crash-retry")
  }

  test("BandedPairs: self, index-probe and bipartite forms == brute-force pair sets on random keyed frames") {
    import spark.implicits._
    type Keyed = List[(Long, Int, Long)]
    // few ids, bands and keys, so collisions — and duplicate keys
    // within one id — are common
    val keyedGen: Gen[Keyed] = Gen.choose(0, 30).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, 9L), Gen.choose(0, 2), Gen.choose(0L, 3L))))
    val keys = Seq("band", "key")
    def frame(rows: Keyed) = rows.toDF("id", "band", "key")
    def sharing(a: Keyed, b: Keyed): Set[(Long, Long)] =
      (for ((ia, ba, ka) <- a; (ib, bb, kb) <- b if ba == bb && ka == kb)
        yield (ia, ib)).toSet
    def got(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val rs = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rs.size == rs.distinct.size, s"a pair appeared twice: $rs")
      rs.toSet
    }
    val edge: Seq[Keyed] = Seq(Nil, List((4L, 1, 2L)),
      List((1L, 0, 0L), (1L, 0, 0L), (1L, 1, 0L), (2L, 0, 0L)))
    val cases = edge ++ (1 to 8).map(i => sample(keyedGen, 900 + i))
    for ((rows, i) <- cases.zipWithIndex) {
      val index = if (i % 3 == 0) Nil else sample(keyedGen, 950 + i)
      val self = sharing(rows, rows).filter { case (a, b) => a < b }
      assert(got(graft.operators.BandedPairs.pairs(frame(rows), "id", keys)) == self,
        s"self form, case $i")
      val probed = self ++ sharing(rows, index).collect {
        case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
      assert(got(graft.operators.BandedPairs.pairs(frame(rows), "id", keys,
        index = Some(frame(index)))) == probed, s"index form, case $i")
      assert(got(graft.operators.BandedPairs.probe(frame(rows), frame(index),
        "id", keys)) == sharing(rows, index), s"bipartite form, case $i")
    }
  }

  test("incrementalAgainstDigests == brute-force left_anti + groupBy, with no broadcast and no large plan literal") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // few texts and some nulls, so in-batch and corpus dups are common
    val textGen: Gen[Option[String]] =
      Gen.frequency(1 -> Gen.const(None), 6 -> Gen.oneOf("a", "b", "c", "d", "e", "f").map(Some(_)))
    val batchGen = Gen.choose(0, 25).flatMap(n => Gen.listOfN(n, textGen))
    val digest = md5(col("text").cast("binary"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.get(0)), Option(r.getString(1)), r.getLong(2))).toSet
    object Plans extends AdaptiveSparkPlanHelper
    val cases = (Nil, List(Some("a"), None)) +:
      (1 to 8).map(i => (sample(batchGen, 1100 + i), sample(batchGen, 1200 + i)))
    for (((texts, corpusTexts), i) <- cases.zipWithIndex) {
      val batch = texts.zipWithIndex.map { case (t, j) => (100L + (j * 7) % 31, t) }
        .toDF("doc_id", "text")
      val corpus = corpusTexts.toDF("text").select(digest.as("content_hash"))
      val want = batch.select(col("doc_id"), digest.as("content_hash"))
        .join(corpus, Seq("content_hash"), "left_anti")
        .groupBy("content_hash")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "content_hash", "n_copies")
      // a tiny filter on odd cases: false positives everywhere, still exact
      val got =
        if (i % 2 == 1) graft.operators.Dedup.incrementalAgainstDigests(batch, corpus, digest,
          expectedItems = 4, fpp = 0.5)
        else graft.operators.Dedup.incrementalAgainstDigests(batch, corpus, digest)
      assert(rows(got) == rows(want), s"case $i")
      val plan = got.queryExecution.executedPlan
      assert(Plans.collectWithSubqueries(plan) {
        case j: BroadcastHashJoinExec => j
        case b: BroadcastExchangeExec => b
      }.isEmpty, s"case $i broadcasts:\n$plan")
      val literalBytes = Plans.collectWithSubqueries(plan) { case p => p }
        .flatMap(_.expressions.flatMap(_.collect {
          case Literal(b: Array[Byte], _) => b.length
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.numBytes
        }))
      assert(literalBytes.forall(_ <= 1024), s"case $i holds a plan literal over 1 KB")
    }
  }

  test("Quota.foldDecisions: ANY ts-ordered split of a random event set folds to the batch window form, chunk by chunk") {
    import spark.implicits._
    import graft.streaming.Quota
    import graft.streaming.Quota.{QEv, WinCounts}
    val evGen = Gen.listOfN(60, Gen.zip(
      Gen.choose(0L, 4L),    // user
      Gen.choose(0, 3),      // day
      Gen.choose(0, 23)))    // hour
    for (seed <- 1L to 4L) {
      val rows = sample(evGen, 700 + seed).zipWithIndex.map {
        case ((u, d, h), i) =>
          QEv(i.toLong, java.sql.Timestamp.valueOf(
            f"2024-01-${d + 1}%02d $h%02d:00:00"), u)
      }
      val batch = Quota.admissions(rows.toDF(), quota = 2).collect()
        .map(r => (r.getLong(2), (r.getLong(0), r.getTimestamp(1).getTime,
          r.getBoolean(3)))).toMap
      // arrival order = the batch's (ts, event_id) total order, split
      // into random chunks (micro-batches); per user, fold each chunk
      // through the SAME mutable state the streaming processor keeps
      val ordered = rows.sortBy(e => (e.ts.getTime, e.event_id))
      val cuts = sample(Gen.listOfN(5, Gen.choose(0, ordered.size)), 900 + seed)
      val chunks = (0 +: cuts.sorted :+ ordered.size).distinct.sliding(2)
        .map { case Seq(a, b) => ordered.slice(a, b) }.filter(_.nonEmpty)
      val state = scala.collection.mutable.Map.empty[(Long, Long), WinCounts]
      val folded = chunks.flatMap { chunk =>
        chunk.groupBy(_.user_id).toSeq.sortBy(_._1).flatMap { case (u, es) =>
          Quota.foldDecisions(2, u,
            es.sortBy(e => (e.ts.getTime, e.event_id)),
            w => state.get((u, w)), (w, c) => state((u, w)) = c)
        }
      }.map(o => (o.event_id, (o.user_id, o.window_start.getTime,
        o.admitted))).toMap
      assert(folded == batch,
        s"seed $seed: chunked fold drifted from the batch window form")
    }
  }

  test("bitextMarginAuto == bitextMargin on RANDOM pools when nProbe covers every cluster (structural full coverage)") {
    import spark.implicits._
    // with nProbe >= k every query probes ALL clusters, so the
    // shortlists are the full bipartite product and the margin
    // arithmetic path must reproduce the exact form on ARBITRARY
    // data — not just the planted covering corpus
    val vecGen = Gen.listOfN(8, Gen.choose(1, 100))
    for (seed <- 1L to 3L) {
      val src = (0 until 24).map(i => (i.toLong,
        sample(vecGen, seed * 1000 + i).map(_.toFloat / 100f), 0))
      val tgt = (0 until 20).map(i => (500L + i,
        sample(vecGen, seed * 2000 + i).map(_.toFloat / 100f), 1))
      val emb = (src ++ tgt).toDF("vec_id", "embedding", "label")
      val s = emb.filter(col("label") === 0)
      val t = emb.filter(col("label") === 1)
      val exact = graft.operators.Ann.bitextMargin(s, t, k = 4)
        .orderBy("src_id").collect().map(_.toString).toSeq
      val auto = graft.operators.Ann.bitextMarginAuto(s, t, k = 4,
          nProbe = 16)
        .orderBy("src_id").collect().map(_.toString).toSeq
      assert(auto == exact && exact.size == 24,
        s"seed $seed: full-coverage shortlist diverged from exact margin")
    }
  }

  test("PartitionEvolution: pruned scan == full scan for random spec eras and random predicates") {
    import spark.implicits._
    import graft.core.PartitionEvolution
    import graft.core.PartitionEvolution.Spec
    val rows = sample(Gen.listOfN(300, Gen.zip(
      Gen.choose(1995, 1998), Gen.choose(1, 12), Gen.choose(0, 1000))), 7L)
      .zipWithIndex.map { case ((y, m, v), i) =>
        (i.toLong, java.sql.Date.valueOf(f"$y-$m%02d-15"), v) }
      .toDF("id", "d", "v")
    val root = graft.core.Scratch.dir("evofuzz").toString
    val specY = Spec(1, Seq("p_y" -> year(col("d"))))
    val specYM = Spec(2, Seq("p_y" -> year(col("d")), "p_m" -> month(col("d"))))
    // era boundary is arbitrary: id parity splits the commits
    var t = PartitionEvolution.empty(spark, root, Seq("p_y", "p_m"))
    t = PartitionEvolution.commit(spark, t, rows.filter(col("id") % 2 === 0),
      specY, 0)
    t = PartitionEvolution.commit(spark, t, rows.filter(col("id") % 2 === 1),
      specYM, 1)
    for (seed <- 10L to 14L) {
      val (y, m) = sample(Gen.zip(Gen.choose(1995, 1998), Gen.choose(1, 12)), seed)
      val pruned = PartitionEvolution.scan(spark, t,
          Seq("p_y" -> ((c: org.apache.spark.sql.Column) => c === y),
            "p_m" -> ((c: org.apache.spark.sql.Column) => c === m)),
          year(col("d")) === y && month(col("d")) === m)
        .select("id").collect().map(_.getLong(0)).toSet
      val expect = rows.filter(year(col("d")) === y && month(col("d")) === m)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(pruned == expect, s"seed $seed ($y-$m): pruning changed results")
    }
  }

  test("MultiTxn: random writer/crash interleavings never expose a torn cross-table pair") {
    import spark.implicits._
    import graft.core.MultiTxn
    val wh = Warehouse.scratch(spark, "txnfuzz")
    def pair(n: Int) = Map(
      "data" -> Seq((n, n * 10)).toDF("v", "payload"),
      "audit" -> Seq((n, n * 10)).toDF("v", "payload"))
    MultiTxn.transact(wh, "s", "init")(_ => pair(0))
    val actions = sample(Gen.listOfN(12, Gen.choose(0, 2)), 99L)
    var committed = 0
    actions.zipWithIndex.foreach { case (a, i) =>
      val s = MultiTxn.snapshot(wh, "s")
      a match {
        case 0 => // clean transact
          MultiTxn.transact(wh, "s", s"w$i")(_ => pair(i + 1))
          committed = i + 1
        case 1 => // crash after staging BOTH tables
          pair(900 + i).foreach { case (t, df) =>
            MultiTxn.stage(wh, "s", t, df, s.version + 1, s"crash$i") }
        case 2 => // stale CAS: stage + commit against an old version
          val staged = pair(800 + i).map { case (t, df) =>
            t -> MultiTxn.stage(wh, "s", t, df, s.version + 1, s"stale$i") }
          MultiTxn.transact(wh, "s", s"w$i")(_ => pair(i + 1)) // interloper wins
          committed = i + 1
          assert(!MultiTxn.tryCommit(wh, "s", staged, s.version, s"stale$i"))
      }
      // INVARIANT at every step: both tables resolve through one
      // snapshot and agree — no torn, crashed, or stale state visible
      val now = MultiTxn.snapshot(wh, "s")
      val d = MultiTxn.read(wh, "s", now, "data").collect()(0).getInt(0)
      val au = MultiTxn.read(wh, "s", now, "audit").collect()(0).getInt(0)
      assert(d == au && d == committed,
        s"step $i (action $a): saw data=$d audit=$au expected $committed")
    }
  }

  test("Warc round-trip on adversarial payloads: any payload without the record boundary survives bit-for-bit") {
    import graft.sources.Warc
    // payloads with embedded CRLFs, blank lines, header-shaped lines,
    // unicode, and near-boundary strings ("WARC/1.0" without CRLF) —
    // everything short of the literal record boundary must round-trip
    val payloadGen: Gen[String] = Gen.listOfN(6, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(12)),
      Gen.const("line1\r\nline2"),
      Gen.const("\r\n\r\n"),
      Gen.const("Content-Length: 999"),
      Gen.const("WARC/1.0 inline no crlf"),
      Gen.const("caf\u00e9 \u00a9 \u00fcn\u00efc\u00f6d\u00e9"))).map(_.mkString(" | "))
    for (i <- 1 to 4) {
      val payloads = (0 until 8).map(j => sample(payloadGen, 1000L * i + j))
        .zipWithIndex.map { case (p, j) => s"https://fuzz.example/$i/$j" -> p }
      val d = graft.core.Scratch.dir(s"warc_fuzz$i")
      val body = payloads.map { case (u, p) =>
        Warc.record(u, "2024-01-01T00:00:00Z", p) }.mkString
      java.nio.file.Files.write(d.resolve("f.warc"), body.getBytes("UTF-8"))
      val got = Warc.read(spark, d.toString)
        .select("url", "payload").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      payloads.foreach { case (u, p) =>
        assert(got(u) == p, s"iteration $i payload for $u")
      }
      graft.core.Scratch.remove(d)
    }
  }

  test("d20 prefix doubling == window-hash scrub on random corpora at odd span widths") {
    import graft.operators.Dedup
    // small token alphabet forces real repeated spans; widths off the
    // registered 50 exercise every binary-decomposition branch
    // (W=4 one part, W=5 two parts incl. 2^0, W=7 three parts)
    val docGen: Gen[List[String]] = Gen.listOfN(18,
      Gen.listOfN(24, Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
    for ((w, i) <- Seq(4, 5, 7, 8).zipWithIndex) {
      val texts = sample(docGen, 5000 + i).zipWithIndex
        .map { case (t, j) => (j.toLong, t) }
      val docs = spark.createDataFrame(texts).toDF("doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "n_tokens", "n_removed", "clean_hash")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(_._1).toSeq
      val sa = rows(Dedup.suffixSpanScrub(docs, minSpan = w))
      val wh = rows(Dedup.exactSubstrScrub(docs, w = w))
      assert(sa == wh, s"width $w diverged")
    }
  }

  test("unigram Viterbi expression == reference DP on random words over the frozen vocab") {
    import graft.operators.Unigram
    import spark.implicits._
    val pinned = graft.queries.TextQueries.uniPieces
    val pmap = pinned.map(p => p.piece -> p.scoreMu).toMap
    def ref(w: String): (Long, Int, String) = {
      val dp = Array.fill[(Long, Int, String)](w.length + 1)(null)
      dp(0) = (0L, 0, "")
      for (j <- 1 to w.length) {
        var best: (Long, Int, String) = null
        for (i <- math.max(1, j - (Unigram.MaxPieceLen - 1)) to j) {
          val piece = w.substring(i - 1, j)
          pmap.get(piece).foreach { s =>
            val prev = dp(i - 1)
            if (prev != null) {
              val cand = (prev._1 + s, prev._2 + 1, prev._3 + " " + piece)
              if (best == null ||
                  Ordering.Tuple3[Long, Int, String].lt(cand, best)) best = cand
            }
          }
        }
        dp(j) = best
      }
      dp(w.length)
    }
    val wordGen: Gen[String] =
      Gen.choose(1, 28).flatMap(n => Gen.listOfN(n,
        Gen.oneOf(('a' to 'z').map(_.toString))).map(_.mkString))
    val words = (0 until 60).map(j => sample(wordGen, 9000L + j)).distinct
    val seg = Unigram.segment(words.toDF("w"), pinned)
      .select("w", "pieces", "score_mu").as[(String, String, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    words.foreach { w =>
      val (s, _, p) = ref(w)
      val (gp, gs) = seg(w)
      assert(gp == p.trim && gs == s, s"word '$w': got ($gp,$gs) ref (${p.trim},$s)")
    }
  }
}

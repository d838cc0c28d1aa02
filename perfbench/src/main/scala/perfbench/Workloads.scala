package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{MinHashLSH, MinHashLSHModel}
import graft.sources.IndexStore

import Run.{median, timed}

/** What a workload leaves behind for the per-layer probes of a traced run. */
final class Outcome(
    /** The corpus the workload fitted. */
    val corpus: DataFrame,
    /** Every document the workload featurized once, in its measured ops. */
    val featurized: Seq[Doc],
    val model: MinHashLSHModel,
    /** The serving table the workload last wrote or maintained. */
    val table: String,
    /** Keys the workload queried with (for the query-side probes). */
    val keys: Seq[String],
    val pointKeys: Seq[String],
    val simjoinPairs: Long,
    val loop: Workloads.Loop,
    val persistedAfter: Int)

/** Posting-table layout. The corpora here hold ~40k postings; the default
  * 16^2 prefix directories would leave ~150 postings per directory, so the
  * tables are written with 16 directories, the width such a corpus warrants.
  */
object Layout {
  val prefixLen = 1
}

object Workloads {

  /** Operation wall and CPU seconds of the measured loop; in a traced run,
    * wall seconds also split by whether the tracer was on.
    */
  final case class Loop(all: Seq[Double], cpu: Seq[Double], traced: Seq[Double],
      untraced: Seq[Double]) {
    /** CPU seconds the loop's operations cost, per operation. A mean, not a
      * median: operations differ in cost by kind (a planted key's query
      * costs more than an unrelated text's), and the median of such a mix
      * jumps between the kinds as the count of operations changes.
      */
    def cpuPerOp: Double = cpu.sum / cpu.size
  }

  /** Runs `step` (which returns its operation's wall and CPU seconds) in a
    * closed loop until `seconds` have passed, at least once. In a traced run
    * the loop runs twice as long and every other operation is untraced, so
    * the tracing overhead can be measured.
    */
  def window(r: Run)(step: Int => (Double, Double)): Loop = {
    val secs = if (r.args.trace) 2 * r.args.seconds else r.args.seconds
    val steal0 = Run.stealTicks()
    val end = System.nanoTime() + (secs * 1e9).toLong
    val all, cpu, traced, untraced = mutable.ArrayBuffer.empty[Double]
    var i = 0
    do {
      r.tracer.active = r.args.trace && i % 2 == 0
      val (s, c) = step(i)
      all += s
      cpu += c
      (if (r.tracer.active) traced else untraced) += s
      i += 1
    } while (System.nanoTime() < end)
    r.tracer.active = r.args.trace
    r.detail("loop_steal_ticks") = (Run.stealTicks() - steal0).toString
    r.detail("op_cpu_s") = Run.arr(cpu.toSeq)
    Loop(all.toSeq, cpu.toSeq, traced.toSeq, untraced.toSeq)
  }

  def fit(r: Run, docs: DataFrame, span: String = "lsh.fit"): MinHashLSHModel =
    r.tracer.span(span) {
      val m = new MinHashLSH(r.cfg).fit(docs)
      m.indexDf.count()
      r.sampleStorage()
      m
    }

  final case class Served(corpus: Corpus, docs: DataFrame, model: MinHashLSHModel, table: String)

  /** Sets up a serving table `reps` times: generate the corpus, fit and
    * materialize, `save` under a fresh table name, dropping the previous
    * set-up first. Returns the last set-up and each one's total, fit and
    * save seconds.
    */
  def setUp(r: Run, params: CorpusParams, reps: Int, tablePrefix: String)(
      save: (MinHashLSHModel, String) => Unit): (Served, Seq[Double], Seq[Double], Seq[Double]) = {
    var last: Option[Served] = None
    val fitS, saveS = mutable.ArrayBuffer.empty[Double]
    val setups = (1 to reps).map { k =>
      last.foreach { p => p.model.unpersist(); p.docs.unpersist(true); r.dropTable(p.table) }
      val table = s"${tablePrefix}_$k"
      timed {
        r.tracer.span("setup") {
          val c = r.tracer.span("setup.corpus") { new Gen(r.args.seed, params).corpus() }
          val d = r.tracer.span("setup.corpus") { r.docsFrame(c.docs) }
          val (m, f) = timed(fit(r, d))
          val (_, w) = timed(r.tracer.span("store.save") { save(m, table) })
          fitS += f; saveS += w
          last = Some(Served(c, d, m, table))
        }
      }._2
    }
    (last.get, setups, fitS.toSeq, saveS.toSeq)
  }

  private def seqIndex(m: MinHashLSHModel, seq: Long): DataFrame =
    m.indexDf.select(col("id"), col("signature"), col("bucket_ids"))
      .withColumn("ingest_seq", lit(seq))

  private def queryFrame(r: Run, keys: Seq[String]): DataFrame = {
    val s = r.spark
    import s.implicits._
    keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("qid", "text")
  }

  /** Batch answers as qid → ranked (id, jaccard). */
  private def ranked(rows: Array[Row]): Map[Long, Seq[(Long, Float)]] =
    rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rank")).map(x =>
        (x.getAs[Long]("id"), x.getAs[Float]("jaccard"))).toSeq
    }

  // ---------------------------------------------------------------- build

  def buildDedup(r: Run): Outcome = {
    val params = CorpusParams(docs = if (r.args.tiny) 300 else 1500)
    var corpus: Corpus = null
    var docs: DataFrame = null
    val setups = (1 to 3).map { _ =>
      if (docs != null) docs.unpersist(true)
      val (_, s) = timed {
        r.tracer.span("setup.corpus") {
          corpus = new Gen(r.args.seed, params).corpus()
          docs = r.docsFrame(corpus.docs)
        }
      }
      s
    }
    r.sampleStorage()

    var last: Option[(MinHashLSHModel, Array[Row], String)] = None
    val fitS, joinS, saveS = mutable.ArrayBuffer.empty[Double]
    def buildOnce(i: Int): (Double, Double) = {
      val table = if (i < 0) "bd_idx_warm" else s"bd_idx_$i"
      // an identical plan would otherwise reuse the previous model's cache
      last.foreach { case (pm, _, pt) => pm.unpersist(); r.dropTable(pt) }
      last = None
      val (res, s, c) = Run.costed {
        r.op("op.build", i.toLong) {
          val (m, f) = timed(fit(r, docs))
          val (pairs, j) = timed(r.tracer.span("lsh.simjoin") {
            m.approxSimilarityJoin(r.threshold).collect() })
          val (_, w) = timed(r.tracer.span("store.save") { m.saveInvertedIndex(table, Layout.prefixLen) })
          (m, pairs, f, j, w)
        }
      }
      res.foreach { case (m, pairs, f, j, w) =>
        last = Some((m, pairs, table))
        fitS += f; joinS += j; saveS += w
      }
      (s, c)
    }
    val (warm, _) = buildOnce(-1)
    fitS.clear(); joinS.clear(); saveS.clear()
    val loop = window(r)(buildOnce)
    val persisted = r.sc.getPersistentRDDs.size

    val (model, rawPairs, table) = last.getOrElse(sys.error("no build succeeded"))
    val strong = corpus.plantedPairs(0.8)
    val pairs =
      if (r.corrupting("pairs")) {
        val drop = rawPairs.find(p => strong((p.getLong(0), p.getLong(1))))
          .orElse(rawPairs.headOption)
        rawPairs.filterNot(p => drop.contains(p))
      } else rawPairs
    checkJoin(r, model, pairs)
    val found = pairs.map(p => (p.getLong(0), p.getLong(1))).toSet
    val missing = strong -- found
    r.check("planted_strong_pairs_found", missing.isEmpty,
      s"${missing.size} of ${strong.size} planted pairs with Jaccard >= 0.8 missing")
    val planted = corpus.plantedPairs(r.threshold)
    val recall = if (planted.isEmpty) 1.0 else (planted & found).size.toDouble / planted.size

    r.metrics("setup_s") = (median(setups) + warm, "s")
    r.metrics("op_cpu_ms") = (loop.cpuPerOp * 1000, "ms")
    r.metrics("index_bytes_per_input_byte") =
      (r.tableBytes(table).toDouble / corpus.textBytes, "ratio")
    r.metrics("peak_storage_mb") = (r.peakStorageMb, "MB")
    r.metrics("planted_recall") = (recall, "ratio")
    r.detail("docs") = params.docs.toString
    r.detail("planted_pairs") = planted.size.toString
    r.detail("pairs_found") = pairs.length.toString
    r.detail("setup_reps_s") = Run.arr(setups)
    r.detail("warmup_s") = Run.num(warm)
    r.detail("build_s") = Run.arr(loop.all)
    r.detail("op_p50_ms") = Run.num(median(loop.all) * 1000)
    r.detail("fit_s") = Run.arr(fitS.toSeq)
    r.detail("dedup_s") = Run.arr(joinS.toSeq)
    r.detail("index_write_s") = Run.arr(saveS.toSeq)

    new Outcome(docs, corpus.docs, model, table,
      corpus.docs.take(10).map(_.text), Nil, pairs.length.toLong, loop, persisted)
  }

  /** The join must equal a driver-side oracle over the same index: every
    * pair sharing a band bucket whose signature agreement reaches the
    * threshold, once, with that agreement as its score.
    */
  private def checkJoin(r: Run, m: MinHashLSHModel, pairs: Array[Row]): Unit = {
    val idx = m.indexDf.where(col("signature").isNotNull)
      .select("id", "signature", "bucket_ids").collect()
      .map(x => (x.getLong(0), (x.getSeq[String](1).toIndexedSeq, x.getSeq[String](2))))
      .toMap
    def agreement(a: Long, b: Long): Float = {
      val (sa, sb) = (idx(a)._1, idx(b)._1)
      val n = math.min(sa.size, sb.size)
      (0 until n).count(i => sa(i) == sb(i)).toFloat / n
    }
    val candidates = idx.toSeq
      .flatMap { case (id, (_, bs)) => bs.map(_ -> id) }
      .groupBy(_._1).valuesIterator
      .flatMap { g =>
        val ids = g.map(_._2).sorted
        for (i <- ids.indices.iterator; j <- (i + 1 until ids.size).iterator)
          yield (ids(i), ids(j))
      }.toSet
    val expected = candidates.iterator
      .map(p => p -> agreement(p._1, p._2))
      .filter(_._2 >= r.threshold).toMap
    val got = pairs.map(p => (p.getLong(0), p.getLong(1)) -> p.getFloat(2))
    val gotMap = got.toMap
    r.check("join_well_formed",
      got.forall { case ((a, b), j) => a < b && j >= r.threshold } &&
        gotMap.size == got.length,
      "pairs must be unique, ordered a < b and at or above the threshold")
    val wrongScore = gotMap.count { case (p, j) =>
      expected.get(p).forall(e => math.abs(e - j) > 1e-6f) }
    r.check("join_equals_oracle",
      gotMap.keySet == expected.keySet && wrongScore == 0,
      s"join ${gotMap.size} pairs, oracle ${expected.size}, " +
        s"missing ${(expected.keySet -- gotMap.keySet).size}, " +
        s"extra ${(gotMap.keySet -- expected.keySet).size}, wrong score $wrongScore")
  }

  // ---------------------------------------------------------------- serve

  def serveRead(r: Run): Outcome = {
    val params = CorpusParams(docs = if (r.args.tiny) 300 else 1500)
    val poolSize = if (r.args.tiny) 40 else 400
    val batchSize = if (r.args.tiny) 20 else 200
    val sampleSize = if (r.args.tiny) 3 else 8
    // three set-ups, the first cold: setup_s is their median
    val (Served(corpus, docs, model, table), setups, fitS, saveS) =
      setUp(r, params, 3, "sr_idx")((m, t) => m.saveInvertedIndex(t, Layout.prefixLen))
    val gen = new Gen(r.args.seed + 1, params)
    val pool = gen.queries(corpus, poolSize, plantedPerTen = 6)

    def point(key: String, req: Long): Option[Seq[(Long, Float)]] =
      r.op("store.point", req) {
        model.approxNearestNeighborsIndexed(table, key, r.topK).collect()
          .map(x => (x.getLong(0), x.getFloat(2))).toSeq
      }

    // warm-up, billed to setup: the first (cold) query is the reference's
    // "first ANN query" row
    val answers = mutable.LinkedHashMap.empty[Int, Seq[(Long, Float)]]
    val (_, firstS) = timed(point(pool.head._2, -1L).foreach(answers(0) = _))
    val (_, warmRest) = timed {
      (1 until 5).foreach(qi => point(pool(qi)._2, -1L).foreach(answers(qi) = _))
      r.tracer.span("lsh.batch") {
        model.approxNearestNeighborsAllIndexed(table,
          queryFrame(r, pool.take(20).map(_._2)), "qid", "text", r.topK).collect()
      }
      model.releaseQueryCaches()
    }

    val loop = window(r) { i =>
      val qi = i % pool.size
      val (ans, s, c) = Run.costed(point(pool(qi)._2, i.toLong))
      ans.foreach(a => if (!answers.contains(qi)) answers(qi) = a)
      (s, c)
    }
    val lat = loop.all
    val batchKeys = pool.take(batchSize)
    val (batch, batchS) = timed(r.op("lsh.batch", 0L) {
      val out = model.approxNearestNeighborsAllIndexed(table,
        queryFrame(r, batchKeys.map(_._2)), "qid", "text", r.topK).collect()
      model.releaseQueryCaches()
      ranked(out)
    })
    r.sampleStorage()
    val persisted = r.sc.getPersistentRDDs.size

    // checks
    val sample = new scala.util.Random(r.args.seed).shuffle(answers.keys.toSeq).take(sampleSize)
    val indexed = answers.clone()
    if (r.corrupting("point") && sample.nonEmpty)
      indexed(sample.head) = indexed(sample.head) :+ ((-1L, 0f))
    val mismatched = sample.filter { qi =>
      val mem = model.approxNearestNeighbors(pool(qi)._2, r.topK).collect()
        .map(x => (x.getLong(0), x.getFloat(2))).toSeq
      mem != indexed(qi)
    }
    r.check("point_indexed_equals_in_memory", mismatched.isEmpty,
      s"${mismatched.size} of ${sample.size} sampled keys differ")
    batch.foreach { b =>
      val differ = batchKeys.indices.filter(qi => indexed.contains(qi) &&
        b.getOrElse(qi.toLong, Nil) != indexed(qi))
      r.check("batch_equals_point", differ.isEmpty,
        s"${differ.size} batch answers differ from the point answers of the same key")
    }
    // planted keys, judged on the batch answers (a superset of the keys the
    // point loop reached, and equal to its answers where both exist)
    val planted = batch.toSeq.flatMap(b => batchKeys.indices.collect {
      case qi if batchKeys(qi)._1 >= 0 => qi -> b.getOrElse(qi.toLong, Nil) })
    val topk =
      if (r.corrupting("topk")) planted.map { case (qi, a) => qi -> a.filterNot(_._1 == pool(qi)._1) }
      else planted
    var partners, hits = 0
    val bad = topk.filter { case (qi, a) =>
      val id = pool(qi)._1
      val ids = a.map(_._1).toSet
      val p = corpus.partners(id, r.threshold)
      partners += p.size; hits += (p & ids).size
      !a.contains((id, 1.0f)) || !corpus.partners(id, 0.8).subsetOf(ids)
    }
    r.check("planted_keys_find_self_and_strong_partners", bad.isEmpty,
      s"${bad.size} of ${topk.size} planted keys miss themselves or a partner with Jaccard >= 0.8")

    r.metrics("setup_s") = (median(setups) + firstS + warmRest, "s")
    r.metrics("op_cpu_ms") = (loop.cpuPerOp * 1000, "ms")
    r.metrics("index_bytes_per_input_byte") =
      (r.tableBytes(table).toDouble / corpus.textBytes, "ratio")
    r.metrics("peak_storage_mb") = (r.peakStorageMb, "MB")
    r.metrics("planted_recall") = (if (partners == 0) 1.0 else hits.toDouble / partners, "ratio")
    r.detail("docs") = params.docs.toString
    r.detail("point_queries") = lat.size.toString
    r.detail("point_p50_ms") = Run.num(median(lat) * 1000)
    r.detail("point_p90_ms") = Run.num(Run.percentile(lat, 0.9) * 1000)
    r.detail("first_point_ms") = Run.num(firstS * 1000)
    r.detail("batch_qps") = Run.num(batchSize / batchS)
    r.detail("setup_reps_s") = Run.arr(setups)
    r.detail("fit_s") = Run.arr(fitS)
    r.detail("index_write_s") = Run.arr(saveS)

    new Outcome(docs, pool.map(q => Doc(-1L, q._2)), model, table,
      batchKeys.map(_._2), pool.take(10).map(_._2), 0L, loop, persisted)
  }

  // ---------------------------------------------------------------- maintain

  def maintainMixed(r: Run): Outcome = {
    val tiny = r.args.tiny
    val params = CorpusParams(docs = if (tiny) 300 else 600)
    val (nNew, nRe, nDel, nRead) = if (tiny) (10, 5, 3, 15) else (30, 15, 8, 40)
    val compactEvery = 3
    val (Served(corpus, docs, model, table), setups, fitS, saveS) =
      setUp(r, params, 3, "mm_idx")((m, t) =>
        IndexStore.saveInverted(seqIndex(m, 1L), t, Layout.prefixLen))
    val setupBytes = r.tableBytes(table)
    // the first set-up is cold; rates come from the warm builds only
    val warmFit = mutable.ArrayBuffer.from(fitS.drop(1).map(params.docs / _))
    val warmSave = mutable.ArrayBuffer.from(saveS.drop(1))

    val gen = new Gen(r.args.seed + 2, params)
    val rnd = gen.fork()
    val live = mutable.LinkedHashMap.empty[Long, String]
    corpus.docs.foreach(d => live(d.id) = d.text)
    val members = corpus.clusters.flatten.toIndexedSeq
    var nextId = params.docs.toLong
    val featurized = mutable.ArrayBuffer.empty[Doc]
    val readKeys, pointKeys = mutable.ArrayBuffer.empty[String]

    def pickLive(n: Int, avoid: Set[Long]): Seq[Long] = {
      val ids = live.keys.toIndexedSeq
      val out = mutable.LinkedHashSet.empty[Long]
      while (out.size < math.min(n, ids.size - avoid.size)) {
        val id = ids(rnd.nextInt(ids.size))
        if (!avoid(id)) out += id
      }
      out.toSeq
    }
    def readSet(n: Int): Seq[String] = Seq.fill(n) {
      val u = rnd.nextDouble()
      if (u < 0.4) members(rnd.nextInt(members.size)) match {
        case id if live.contains(id) => live(id)
        case _ => gen.freshText(rnd)
      }
      else if (u < 0.7) live.valuesIterator.drop(rnd.nextInt(live.size)).next()
      else gen.freshText(rnd)
    }

    val compactS, appendS, tombS, readS, pointS, debtS = mutable.ArrayBuffer.empty[Double]
    var sinceCompact = 0
    def compact(): Unit = {
      val (_, s) = timed(r.op("store.compact") { IndexStore.compactInverted(r.spark, table) })
      compactS += s
      sinceCompact = 0
    }
    def cycle(c: Int, request: Long): (Double, Double) = {
      val news = Seq.fill(nNew) { nextId += 1; Doc(nextId, gen.freshText(rnd)) }
      val re = pickLive(nRe, Set.empty).map(id => Doc(id, gen.mutate(live(id), 0.1, rnd)))
      val del = pickLive(nDel, re.map(_.id).toSet)
      val reads = readSet(nRead)
      val ingest = news ++ re
      featurized ++= ingest
      readKeys ++= reads
      val s0 = r.spark
      import s0.implicits._
      val ingestDf = ingest.map(d => (d.id, d.text)).toDF("id", "text")
      val delDf = del.toDF("id")
      val qdf = queryFrame(r, reads)
      // one point read per cycle, alternating a planted key and fresh text,
      // served over the documents as they stand after this cycle's writes
      val pointKey =
        if (c % 2 == 0) live.getOrElse(members(rnd.nextInt(members.size)), gen.freshText(rnd))
        else gen.freshText(rnd)
      pointKeys += pointKey
      val docsAfter = r.docsFrame(
        (live -- del ++ ingest.map(d => d.id -> d.text)).map { case (id, t) => Doc(id, t) }.toSeq)
      val (_, s, cpu) = Run.costed(r.op("op.cycle", request) {
        val bm = fit(r, ingestDf, "lsh.fit_batch")
        appendS += timed(r.tracer.span("store.append") {
          IndexStore.appendInverted(seqIndex(bm, 2L * c), table) })._2
        bm.unpersist()
        tombS += timed(r.tracer.span("store.tombstone") {
          IndexStore.appendTombstones(r.spark, table, delDf, 2L * c + 1) })._2
        readS += timed(r.tracer.span("lsh.batch_read", request) {
          model.approxNearestNeighborsAllIndexed(table, qdf, "qid", "text", r.topK).collect()
          model.releaseQueryCaches()
        })._2
        pointS += timed(r.tracer.span("store.point", request) {
          MinHashLSH.annFromInvertedIndex(r.spark, table, docsAfter, "id", "text",
            pointKey, r.topK, r.cfg).collect()
        })._2
        debtS += timed(r.tracer.span("store.debt_poll") {
          IndexStore.maintenanceDebt(r.spark, table).collect() })._2
      })
      docsAfter.unpersist(true)
      ingest.foreach(d => live(d.id) = d.text)
      del.foreach(live.remove)
      sinceCompact += 1
      r.sampleStorage()
      if (c % compactEvery == 0) compact()
      (s, cpu)
    }

    // the first cycle is the warm-up, billed to setup
    val (_, warm) = timed(cycle(1, -1L))
    val firstPoint = pointS.head
    Seq(compactS, appendS, tombS, readS, pointS, debtS).foreach(_.clear())
    val loop = window(r)(i => cycle(i + 2, i.toLong))
    val cycleS = loop.all
    if (sinceCompact > 0) compact()
    val persisted = r.sc.getPersistentRDDs.size

    // check: the maintained table, compacted, answers exactly like a fresh
    // build over the final corpus (tombstoned ids gone, re-ingests current)
    val finalDocs = live.toSeq.map { case (id, t) => Doc(id, t) }
    val finalCorpus = new Corpus(params, finalDocs.toIndexedSeq,
      corpus.clusters.map(_.filter(live.contains)).filter(_.size > 1))
    val freshTable = "mm_fresh"
    val checkKeys = {
      val planted = finalCorpus.clusters.flatten.take(if (tiny) 10 else 80)
      planted.map(id => (id, live(id))) ++ readSet(if (tiny) 5 else 20).map(t => (-1L, t))
    }
    val qdf = queryFrame(r, checkKeys.map(_._2))
    val got = r.op("check.maintained_batch") {
      val out = model.approxNearestNeighborsAllIndexed(table, qdf, "qid", "text", r.topK).collect()
      model.releaseQueryCaches()
      ranked(out)
    }
    val fd = r.docsFrame(finalDocs)
    val fresh = r.op("check.fresh_build") {
      val (fm, f) = timed(fit(r, fd))
      val (_, w) = timed(r.tracer.span("store.save") {
        IndexStore.saveInverted(seqIndex(fm, 1L), freshTable, Layout.prefixLen) })
      warmFit += finalDocs.size / f; warmSave += w
      val out = fm.approxNearestNeighborsAllIndexed(freshTable, qdf, "qid", "text", r.topK)
        .collect()
      fm.releaseQueryCaches()
      (fm, ranked(out))
    }
    for (g0 <- got; (_, w) <- fresh) {
      val g =
        if (r.corrupting("maint")) g0.updated(0L, g0.getOrElse(0L, Nil) :+ ((-1L, 0f)))
        else g0
      val differ = checkKeys.indices.count(q => g.getOrElse(q.toLong, Nil) != w.getOrElse(q.toLong, Nil))
      r.check("maintained_equals_fresh_build", differ == 0,
        s"$differ of ${checkKeys.size} batch answers differ from a fresh build")
    }
    // point answers served from the maintained table equal the in-memory
    // answers over the fresh build (same documents, same scoring)
    fresh.foreach { case (fm, _) =>
      val keys = checkKeys.take(if (tiny) 2 else 3).map(_._2)
      val mismatched = keys.zipWithIndex.count { case (k, i) =>
        val served = fm.approxNearestNeighborsIndexed(table, k, r.topK).collect()
          .map(x => (x.getLong(0), x.getFloat(2))).toSeq
        val mem = fm.approxNearestNeighbors(k, r.topK).collect()
          .map(x => (x.getLong(0), x.getFloat(2))).toSeq
        (if (i == 0 && r.corrupting("point")) served :+ ((-1L, 0f)) else served) != mem
      }
      r.check("point_indexed_equals_in_memory", mismatched == 0,
        s"$mismatched of ${keys.size} point answers differ")
      fm.unpersist()
    }
    fd.unpersist(true)
    var partners, hits = 0
    got.foreach { g =>
      checkKeys.zipWithIndex.filter(_._1._1 >= 0).foreach { case ((id, _), q) =>
        val p = finalCorpus.partners(id, r.threshold)
        partners += p.size
        hits += (p & g.getOrElse(q.toLong, Nil).map(_._1).toSet).size
      }
    }

    r.metrics("setup_s") = (median(setups) + warm, "s")
    r.metrics("op_cpu_ms") = (loop.cpuPerOp * 1000, "ms")
    r.metrics("index_bytes_per_input_byte") = (setupBytes.toDouble / corpus.textBytes, "ratio")
    r.metrics("peak_storage_mb") = (r.peakStorageMb, "MB")
    r.metrics("planted_recall") = (if (partners == 0) 1.0 else hits.toDouble / partners, "ratio")
    r.detail("docs") = params.docs.toString
    r.detail("cycles") = cycleS.size.toString
    r.detail("maint_cycle_s") = Run.arr(cycleS)
    r.detail("compact_s") = Run.arr(compactS.toSeq)
    r.detail("append_s") = Run.arr(appendS.toSeq)
    r.detail("tombstone_s") = Run.arr(tombS.toSeq)
    r.detail("batch_read_s") = Run.arr(readS.toSeq)
    r.detail("batch_qps") = Run.num(nRead / median(readS.toSeq))
    r.detail("point_s") = Run.arr(pointS.toSeq)
    r.detail("first_point_ms") = Run.num(firstPoint * 1000)
    r.detail("debt_poll_s") = Run.arr(debtS.toSeq)
    r.detail("setup_reps_s") = Run.arr(setups)
    r.detail("op_p50_ms") = Run.num(median(cycleS) * 1000)
    r.detail("build_docs_per_s") = Run.arr(warmFit.toSeq)
    r.detail("index_write_s") = Run.arr(warmSave.toSeq)
    r.detail("warmup_s") = Run.num(warm)
    r.detail("live_docs") = live.size.toString

    new Outcome(docs, featurized.toSeq ++ readKeys.map(Doc(-1L, _)), model, table,
      readKeys.takeRight(nRead).toSeq, pointKeys.toSeq, 0L, loop, persisted)
  }
}

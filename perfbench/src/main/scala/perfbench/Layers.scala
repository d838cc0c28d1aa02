package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions => H, TextFunctions => T}
import graft.operators.MinHashLSH
import graft.sources.IndexStore

import Run.{median, timed}

/** Per-layer metrics of a traced run. Layers are named after the modules
  * they time: `text` (TextFunctions), `hash` (HashFunctions, MinHashExpr),
  * `lsh` (operators.MinHashLSH), `store` (sources.IndexStore) and `spark`
  * (the engine). Span figures come from the listener counts of the spans the
  * workload recorded; kernel, vocabulary, candidate and calibration figures
  * come from probes run after the measured loop. A layer the workload never
  * calls reports 0.
  */
object Layers {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def report(r: Run, o: Outcome, calib: Seq[Double]): Unit = {
    val t = r.tracer
    val m = r.metrics
    def put(name: String, v: Double, unit: String): Unit = m(name) = (v, unit)
    def secs(name: String): Seq[Double] = t.named(name).filter(_.endNs > 0).map(t.seconds)
    def med(name: String): Double = { val s = secs(name); if (s.isEmpty) 0.0 else median(s) }
    def selfMed(name: String)(f: Counts => Double): Double = {
      val s = t.named(name).map(x => f(t.self(x)))
      if (s.isEmpty) 0.0 else median(s)
    }
    def selfMean(name: String)(f: Counts => Double): Double = {
      val s = t.named(name).map(x => f(t.self(x)))
      if (s.isEmpty) 0.0 else s.sum / s.size
    }
    val mb = 1e6

    // text + hash: the three kernel stages over the documents the workload
    // featurized, each timed alone; a stage's self time is its plan minus
    // the plan below it
    val feat = t.span("probe.kernels") {
      r.docsFrame(o.featurized.zipWithIndex.map { case (d, i) => Doc(i.toLong, d.text) })
    }
    // one projection per stage, as featurize builds them: a stage reads the
    // column below it instead of re-evaluating that expression
    val shingled = feat.select(T.shingles(col("text"), r.cfg.numShingles).as("sh"))
    val signed = shingled.select(H.minhashMd5(col("sh"), r.cfg.numHash).as("sig"))
    val banded = signed.select(
      H.bandBucketsMd5(col("sig"), r.cfg.numBands, r.cfg.numRows, r.cfg.bucketHexLen).as("b"))
    def stage(df: DataFrame): Double = t.span("probe.kernels") {
      median((1 to 3).map(_ => timed(noop(df))._2))
    }
    val (shS, sigS, bandS) = (stage(shingled), stage(signed), stage(banded))
    val shingles = t.span("probe.kernels") {
      shingled.select(sum(size(col("sh"))).cast("long")).collect()(0).getLong(0)
    }
    feat.unpersist(true)
    put("text.shingle_s", shS, "s")
    put("text.shingles_per_doc", shingles.toDouble / math.max(1, o.featurized.size), "count")
    put("hash.signature_s", sigS - shS, "s")
    put("hash.band_s", bandS - sigS, "s")
    put("hash.hash_evals", shingles.toDouble * r.cfg.numHash, "count")

    // lsh
    put("lsh.fit_jobs", selfMed("lsh.fit")(_.jobs.toDouble), "count")
    put("lsh.fit_tasks", selfMed("lsh.fit")(_.tasks.toDouble), "count")
    put("lsh.vocab_s", t.span("probe.vocab") {
      timed(new MinHashLSH(r.cfg.copy(useVocabulary = true)).buildVocabulary(o.corpus).count())._2
    }, "s")
    put("lsh.simjoin_s", med("lsh.simjoin"), "s")
    val candidateRows =
      if (t.named("lsh.simjoin").isEmpty) 0L
      else t.span("probe.simjoin") {
        val e = o.model.indexDf.where(col("signature").isNotNull)
          .select(col("id"), explode(col("bucket_ids")).as("bucket"))
        e.as("a").join(e.as("b"), "bucket").where(col("a.id") < col("b.id")).count()
      }
    put("lsh.simjoin_candidate_rows", candidateRows.toDouble, "count")
    put("lsh.simjoin_pairs", o.simjoinPairs.toDouble, "count")
    put("lsh.simjoin_yield",
      if (candidateRows == 0) 0.0 else o.simjoinPairs.toDouble / candidateRows, "ratio")
    put("lsh.simjoin_shuffle_mb", selfMed("lsh.simjoin")(_.shuffleWrite / mb), "MB")
    put("lsh.simjoin_spill_mb", selfMed("lsh.simjoin")(_.spill / mb), "MB")
    put("lsh.query_featurize_ms", t.span("probe.query") {
      median(o.keys.take(10).map(k => timed(o.model.queryFeatures(k).collect())._2 * 1000))
    }, "ms")
    val postings = IndexStore.loadInverted(r.spark, o.table)
      .where(col("bkt_pfx") =!= IndexStore.TombstonePrefix)
    def bucketsOf(keys: Seq[String]): DataFrame = {
      val s = r.spark
      import s.implicits._
      val q = new MinHashLSH(r.cfg)
        .fit(keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "text"))
      q.indexDf.where(col("bucket_ids").isNotNull)
        .select(col("id").as("qid"), explode(col("bucket_ids")).as("bucket"))
    }
    val pointCandidates =
      if (o.pointKeys.isEmpty) 0.0
      else t.span("probe.candidates") {
        bucketsOf(o.pointKeys).join(postings.select("bucket", "id"), "bucket")
          .select("qid", "id").distinct().count().toDouble / o.pointKeys.size
      }
    put("lsh.point_candidates", pointCandidates, "count")
    val batchSpans = if (t.named("lsh.batch").nonEmpty) "lsh.batch" else "lsh.batch_read"
    val batch = t.named(batchSpans).filter(_.request >= 0)
    put("lsh.batch_qps",
      if (batch.isEmpty) 0.0 else o.keys.size / median(batch.map(t.seconds)), "1/s")
    put("lsh.batch_candidate_pairs",
      if (batch.isEmpty) 0.0
      else t.span("probe.candidates") {
        bucketsOf(o.keys).join(postings.select("bucket", "id"), "bucket")
          .select("qid", "id").distinct().count().toDouble
      }, "count")
    put("lsh.batch_shuffle_mb",
      if (batch.isEmpty) 0.0 else median(batch.map(x => t.inclusive(x).shuffleWrite / mb)), "MB")

    // store
    put("store.write_s", med("store.save"), "s")
    put("store.write_jobs", selfMed("store.save")(_.jobs.toDouble), "count")
    put("store.write_files", r.dataFiles(o.table).toDouble, "count")
    put("store.posting_rows", t.span("probe.store") { postings.count() }.toDouble, "count")
    put("store.index_bytes", r.tableBytes(o.table).toDouble, "bytes")
    val point = t.named("store.point").filter(_.request >= 0).map(t.seconds)
    put("store.point_p50_ms", if (point.isEmpty) 0.0 else median(point) * 1000, "ms")
    put("store.point_p90_ms",
      if (point.isEmpty) 0.0 else Run.percentile(point, 0.9) * 1000, "ms")
    put("store.point_jobs_per_query", selfMean("store.point")(_.jobs.toDouble), "count")
    put("store.point_tasks_per_query", selfMean("store.point")(_.tasks.toDouble), "count")
    put("store.point_input_kb_per_query", selfMean("store.point")(_.inputBytes / 1e3), "KB")
    put("store.append_s", med("store.append"), "s")
    put("store.append_jobs", selfMed("store.append")(_.jobs.toDouble), "count")
    put("store.tombstone_s", med("store.tombstone"), "s")
    put("store.compact_s", med("store.compact"), "s")
    put("store.compact_jobs", selfMed("store.compact")(_.jobs.toDouble), "count")
    put("store.compact_bytes_written", selfMed("store.compact")(_.outputBytes.toDouble), "bytes")
    put("store.debt_poll_s", med("store.debt_poll"), "s")
    put("store.persisted_rdds_after", o.persistedAfter.toDouble, "count")

    // spark: per traced operation of the measured loop
    val ops = t.spans.filter(s => s.parent.isEmpty && s.request >= 0 &&
      Set("op.build", "store.point", "op.cycle")(s.name)).toSeq
    val inc = ops.map(t.inclusive)
    val n = math.max(1, ops.size)
    val wall = ops.map(t.seconds).sum
    put("spark.jobs", inc.map(_.jobs).sum.toDouble / n, "count")
    put("spark.tasks", inc.map(_.tasks).sum.toDouble / n, "count")
    put("spark.task_busy_share",
      if (wall <= 0) 0.0 else inc.map(_.taskMs).sum / 1000.0 / (wall * r.cores), "ratio")
    put("spark.gc_s", inc.map(_.gcMs).sum / 1000.0 / n, "s")
    put("spark.shuffle_write_mb", inc.map(_.shuffleWrite).sum / mb / n, "MB")
    put("spark.spill_mb", inc.map(_.spill).sum / mb / n, "MB")
    put("host.calib_s", median(calib), "s")
    // wall latency of the loop's untraced operations: on a shared host it
    // moves with the neighbours' load, so it is a traced-run figure only
    put("op.wall_p50_ms",
      if (o.loop.untraced.isEmpty) 0.0 else median(o.loop.untraced) * 1000, "ms")
    put("trace.overhead_share",
      if (o.loop.traced.isEmpty || o.loop.untraced.isEmpty) 0.0
      else median(o.loop.traced) / median(o.loop.untraced) - 1, "ratio")
  }
}

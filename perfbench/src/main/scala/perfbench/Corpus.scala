package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The batch near-dup job: five pair-generating catalog queries, run
  * through `SparkEntry.queries` over a seeded corpus of `sf0.1` documents
  * and embeddings (the rows committed under perfbench/data) and perturbed
  * near-dup copies of them. */
object Corpus {
  val Queries: Seq[String] = Seq("q_dedup_minhash_lsh", "q_dedup_simhash_pairs",
    "q_dedup_components", "q_er_entities", "q_semdedup_pairs")
  /** One corpus size is both timed and checked against the DuckDB
    * oracles in every run; q_dedup_components' recursive CTE and
    * q_semdedup_pairs' all-pairs dot keep the oracles to seconds only at
    * about this size. */
  val Docs = 1200
  val Vectors = 600
  /** Untimed jobs between generating the corpus and the timed region. */
  val WarmupJobs = 4
  /** Share of rows that are perturbed copies of an earlier row. */
  val DupShare = 0.3

  /** Set up once (generate the corpus, run the warm-up jobs), then measure
    * jobs; a traced run measures once untraced and once traced. Every job
    * must give the same digests; run.py checks them against the DuckDB
    * oracles. */
  def run(ctx: Main.Ctx): Map[String, Any] = {
    val dir = s"${ctx.work}/corpus"
    val corpusDigest = ctx.rec.span("generate corpus", "sources")(
      generate(ctx.spark, ctx.data, dir, ctx.seed, Docs, Vectors))
    val warm = (1 to WarmupJobs).map(_ => job(ctx, dir))
    val plain = measure(ctx, dir, tracing = false)
    val traced = if (ctx.trace) Some(measure(ctx, dir, tracing = true)) else None
    val digests = (warm.map(_.digests) ++
      (plain +: traced.toSeq).flatMap(_("digests").asInstanceOf[Seq[Map[String, String]]])).distinct
    Map("kind" -> "batch", "plain" -> plain, "traced" -> traced,
      "input_records" -> (Docs + Vectors),
      "checks" -> Seq(Map("name" -> "every job gives the same digests",
        "ok" -> (digests.size == 1), "detail" -> s"${digests.size} distinct digest sets")),
      "oracle" -> Map("dir" -> dir, "docs" -> Docs, "vectors" -> Vectors,
        "corpus_digest" -> corpusDigest,
        "sql" -> Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap,
        "spark" -> digests.head))
  }

  private def measure(ctx: Main.Ctx, dir: String, tracing: Boolean): Map[String, Any] = {
    ctx.rec.tracing = tracing
    val start = Clock.nowMs
    val jobs = mutable.ArrayBuffer[JobResult]()
    do jobs += ctx.rec.span("job", "bench")(job(ctx, dir))
    while (Clock.nowMs < start + ctx.seconds * 1000)
    val end = Clock.nowMs
    ctx.rec.add("timed region", "bench", start, end)
    ctx.rec.quiesce(ctx.spark)
    ctx.rec.tracing = false
    Map("start_ms" -> start, "end_ms" -> end,
      "jobs_s" -> jobs.map(_.seconds),
      "query_s" -> Queries.map(q => q -> jobs.map(_.querySeconds(q))).toMap,
      "digests" -> jobs.map(_.digests).toSeq,
      "plan" -> jobs.last.plan,
      "tasks" -> ctx.rec.taskTotals(start, end),
      "spans" -> (if (tracing) ctx.rec.allSpans.filter(s =>
        s("end").asInstanceOf[Double] >= start && s("start").asInstanceOf[Double] <= end)
        else Seq.empty))
  }

  final case class JobResult(seconds: Double, querySeconds: Map[String, Double],
      digests: Map[String, String], plan: Map[String, Double])

  /** One job: every query built through the catalog and collected. */
  private def job(ctx: Main.Ctx, dir: String): JobResult = {
    val spark = ctx.spark
    val rec = ctx.rec
    val t0 = System.nanoTime()
    val per = Queries.map { name =>
      rec.span(s"query $name", "bench") {
        val q0 = System.nanoTime()
        val df = rec.span("build", "api")(SparkEntry.queries(name)(spark, dir))
        val rows = rec.span("collect", "sink")(df.collect())
        val secs = (System.nanoTime() - q0) / 1e9
        val qe = df.queryExecution
        val phases = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          phases.get(p).foreach(s => rec.add(p, "plans", s.startTimeMs.toDouble,
            s.endTimeMs.toDouble))
        }
        val plan = planStats(qe.executedPlan, rows.length) ++
          Seq("analysis", "optimization", "planning").map(p =>
            s"plan.${p}_ms" -> phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
        (name, secs, digest(rows, df.schema), plan)
      }
    }
    JobResult((System.nanoTime() - t0) / 1e9,
      per.map(p => p._1 -> p._2).toMap,
      per.map(p => p._1 -> p._3).toMap,
      per.map(_._4).reduce((a, b) => (a.keySet ++ b.keySet).map(k =>
        k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap))
  }

  /** Exchange and codegen-stage counts of the executed plan, and the pair
    * counts its SQL metrics hold: candidates are the rows out of in-bucket
    * pair explosions (generators producing (a, b) structs) and of
    * equi-joins producing (id_a, id_b) rows; emitted are the rows of a
    * query whose result is a pair list. */
  private def planStats(plan: SparkPlan, resultRows: Int): Map[String, Double] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    val all = nodes(plan)
    def rowsOut(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
    val pairGen = all.collect {
      case g: GenerateExec if g.generatorOutput.exists(a => a.dataType match {
        case s: StructType => s.fieldNames.sameElements(Array("a", "b"))
        case _ => false
      }) => rowsOut(g)
    }
    val pairJoin = all.collect {
      case j: BaseJoinExec if Set("id_a", "id_b").subsetOf(j.output.map(_.name).toSet) => rowsOut(j)
    }
    val isPairList = plan.output.map(_.name).toSet.exists(n => n == "doc_b" || n == "id_b")
    Map(
      "plan.exchanges" -> all.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }.toDouble,
      "plan.codegen_stages" -> all.count(_.isInstanceOf[WholeStageCodegenExec]).toDouble,
      "pairs.candidates" -> (pairGen.sum + pairJoin.sum),
      "pairs.emitted" -> (if (isPairList) resultRows.toDouble else 0.0))
  }

  /** Order-insensitive digest of an integer-valued result: a header of the
    * sorted column names, then one line per row with the values in that
    * column order, lines sorted, SHA-256 over the newline-joined text.
    * `accounting.result_digest` computes the same from DuckDB rows. */
  def digest(rows: Array[Row], schema: StructType): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val lines = rows.map { r =>
      order.map { case (_, i) =>
        if (r.isNullAt(i)) "N"
        else r.get(i) match {
          case v @ (_: Long | _: Int | _: Short | _: Byte) => v.toString
          case other => s"?${other.getClass.getSimpleName}"
        }
      }.mkString("|")
    }.sorted
    val text = (order.map(_._1).mkString("|") +: lines).mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Write `documents` and `embeddings` parquet tables: rows of the
    * committed `sf0.1` sample in a seeded order, and a DupShare of rows
    * that copy an earlier row with a few edits (1-3 word substitutions from
    * the sample's vocabulary; Gaussian noise of 0.001 per vector
    * component). Deterministic in `seed`; returns a SHA-256 of the rows. */
  def generate(spark: SparkSession, data: String, dir: String, seed: Long, docs: Int,
      vecs: Int): String = {
    val rnd = new java.util.SplittableRandom(seed)
    def shuffled(n: Int): Array[Int] = {
      val a = Array.tabulate(n)(identity)
      for (i <- a.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    val baseDocs = spark.read.parquet(s"$data/documents.parquet").orderBy("doc_id").collect()
    val baseVecs = spark.read.parquet(s"$data/embeddings.parquet").orderBy("vec_id").collect()
    require(docs <= baseDocs.length && vecs <= baseVecs.length, "corpus larger than the sample")
    val vocab = baseDocs.flatMap(_.getString(1).split(' ')).distinct.sorted
    val docOrder = shuffled(baseDocs.length).iterator
    val docs0 = mutable.ArrayBuffer[(Array[String], String, String)]()
    val docRows = (0 until docs).map { id =>
      val d @ (w, lang, source) =
        if (id > 0 && rnd.nextDouble() < DupShare) {
          val (src, lang, source) = docs0(rnd.nextInt(id))
          val c = src.clone()
          (0 to rnd.nextInt(3)).foreach(_ => c(rnd.nextInt(c.length)) = vocab(rnd.nextInt(vocab.length)))
          (c, lang, source)
        } else {
          val r = baseDocs(docOrder.next())
          (r.getString(1).split(' '), r.getString(2), r.getString(3))
        }
      docs0 += d
      val text = w.mkString(" ")
      Row(id.toLong, text, lang, source, text.length.toLong)
    }
    val vecOrder = shuffled(baseVecs.length).iterator
    val vecs0 = mutable.ArrayBuffer[(Array[Float], Int)]()
    val vecRows = (0 until vecs).map { id =>
      val v @ (e, label) =
        if (id > 0 && rnd.nextDouble() < DupShare) {
          val (src, label) = vecs0(rnd.nextInt(id))
          (src.map(x => (x + 0.001 * rnd.nextGaussian()).toFloat), label)
        } else {
          val r = baseVecs(vecOrder.next())
          (r.getSeq[Float](1).toArray, r.getInt(2))
        }
      vecs0 += v
      Row(id.toLong, e.toSeq, label)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 1), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, 1), vecSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val text = (docRows ++ vecRows).map(_.mkString("|")).mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
  }
}

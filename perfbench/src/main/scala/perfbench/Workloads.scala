package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkEntry, Tables}
import Harness.{Ctx, maps, str, strings}

/** One dashboard face or agent SELECT: build its DataFrame, collect the
  * rows the caller waits for, then (outside the timing) compare the rows
  * with the first run of the same request.
  */
private object Request {
  def run(ctx: Ctx, r: java.util.Map[String, Object]): Double = {
    val id = str(r.get("id"))
    val kind = str(r.get("kind"))
    val name = str(r.get("name"))
    var registerMs = 0.0
    var built: DataFrame = null
    val outcome = ctx.rec.op(name, kind, None,
        Seq("request" -> Json.str(id), "register_ms" -> Json.num(registerMs))) {
      if (kind == "sql") {
        val t0 = System.nanoTime()
        Tables.registerAll(ctx.spark, ctx.path("data_dir"))
        registerMs = (System.nanoTime() - t0) / 1e6
        ctx.spark.sql(str(r.get("sql")))
      } else SparkEntry.queries(name)(ctx.spark, ctx.path("data_dir"))
    } { df =>
      built = df
      val rows = df.collect()
      graft.operators.OpCache.clear()
      rows
    }
    outcome.value.foreach { rows =>
      val key = if (kind == "sql") id else name
      ctx.rec.check(key, built, rows, ordered = true).foreach(ctx.rec.fail(s"check:$key", None, _))
    }
    outcome.ms
  }
}

/** Agent SELECTs mixed with dashboard-shaped faces, one closed-loop client:
  * set-up calls every face once (the fixture pass), then runs the plan's
  * warm SELECTs (the warm round); the timed section sends the seeded
  * request stream, each request after the previous one returned.
  */
object AgentSql {
  def run(ctx: Ctx, summary: mutable.Map[String, String]): Unit = {
    val streams = maps(ctx.plan.get("streams")).map(st => maps(st.get("requests")))

    ctx.rec.phase = "fixture"
    strings(ctx.plan.get("faces")).foreach(f => Request.run(ctx,
      java.util.Map.of("id", s"fixture_$f", "kind", "face", "name", f)))

    ctx.rec.phase = "warm"
    val w0 = System.nanoTime()
    maps(ctx.plan.get("warm")).foreach(Request.run(ctx, _))
    summary("warm_s") = Json.num((System.nanoTime() - w0) / 1e9)

    ctx.timed(summary)(k => streams(k).map(Request.run(ctx, _)).sum / 1e3)
  }
}

/** The reference's Dagster cadence replayed over a landing zone: per day a
  * KOBIS parse, the daily ingest, the movie upsert and the goods-event
  * ingest; per 10-minute poll a stock append, a stream drain, a fold and
  * the dashboard's read-after-write queries. Set-up replays the first day
  * with one poll into a throwaway store (every call once), then that poll
  * alone once more;
  * the timed section replays every day into a fresh store, which is then
  * dumped for the recompute over all landed inputs.
  */
object StoreIngest {
  import graft.api.BoxOffice
  import graft.operators.IncrementalAgg
  import graft.pipelines.{BoxOfficePipeline, BucketedFoldStore}
  import graft.sources.KobisSource
  import graft.streaming.{LatestPerKeyStream, StreamingUpsert}
  import org.apache.spark.sql.types._

  private val goodsSchema = StructType(Seq("event_id", "movie_title", "goods_name",
    "start_date", "end_date", "event_url", "image_url").map(StructField(_, StringType)))
  private val movieEventSchema = StructType(Seq("movie_title", "goods_name",
    "start_date", "end_date", "event_url", "image_url").map(StructField(_, StringType)))
  private val aliasSchema = StructType(Seq("raw", "canonical").map(StructField(_, StringType)))
  private val pollSchema = StructType(Seq(
    StructField("event_id", StringType), StructField("theater_name", StringType),
    StructField("scraped_at", LongType), StructField("status", StringType),
    StructField("quantity", DoubleType)))
  val RollupKeys = Seq("event_id")
  val SketchK = 32

  /** Bytes written through Hadoop file systems so far (store data,
    * staging, ledgers, manifests and stream checkpoints all go this way).
    */
  def hadoopBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum

  /** The size of every file under `root`, keyed by path and modification time. */
  def walk(root: File): Map[String, Long] = {
    val out = mutable.HashMap.empty[String, Long]
    def go(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
      else if (f.isFile) out(f.getPath + "@" + f.lastModified) = f.length
    go(root)
    out.toMap
  }

  def run(ctx: Ctx, summary: mutable.Map[String, String]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val landing = new File(ctx.path("landing"))
    val days = maps(ctx.plan.get("days"))
    val aliases = spark.read.schema(aliasSchema).json(new File(landing, "aliases.json").getPath)
    val movieEvents = spark.read.schema(movieEventSchema)
      .json(new File(landing, "movie_events.json").getPath)

    /** Replay `ds` into the store at `root`; a day without a "daily" page
      * replays its polls only. `tag` keeps stream files and fold batch ids
      * of repeated replays apart. Returns the summed call time in s.
      */
    def replay(root: File, ds: Seq[java.util.Map[String, Object]], tag: String,
               checkResults: Boolean): Double = {
      val storeRoot = root.getAbsolutePath
      val streamIn = new File(root.getParentFile, root.getName + "_stream_in")
      streamIn.mkdirs()
      val api = new BoxOffice(spark, storeRoot)
      var total = 0.0
      // a store call; in a traced run also the files it left behind,
      // from walks of the store taken outside the call's timing
      def call[B, A](name: String, kind: String, parent: Int,
                     extra: => Seq[(String, String)] = Nil)(build: => B)(exec: B => A): Option[A] = {
        val before = if (ctx.rec.tracer.isDefined) Some(walk(root)) else None
        def files = before.toSeq.flatMap { w0 =>
          val fresh = walk(root).filter { case (k, _) => !w0.contains(k) }
          Seq("files_written" -> fresh.size.toString, "bytes_written" -> fresh.values.sum.toString)
        }
        val o = ctx.rec.op(name, kind, Some(parent), files ++ extra)(build)(exec)
        total += o.ms
        o.value
      }
      def read(name: String, key: String, parent: Int)(df: => DataFrame): Unit = {
        var built: DataFrame = null
        val o = ctx.rec.op(name, "read", Some(parent)) { built = df; built } { d => d.collect() }
        total += o.ms
        if (checkResults) o.value.foreach(rows =>
          ctx.rec.check(key, built, rows, ordered = false)
            .foreach(ctx.rec.fail(s"check:$key", Some(parent), _)))
      }
      ds.foreach { day =>
        val date = str(day.get("date"))
        ctx.rec.group("day", "day", None, Seq("date" -> Json.str(date))) { daySpan =>
          if (day.containsKey("daily")) {
            call("sources.daily_parse", "parse", daySpan) {
              KobisSource.dailyBoxOffice(spark, new File(landing, str(day.get("daily"))).getPath,
                LocalDate.parse(date))
            }(identity).foreach { raw =>
              call("pipelines.ingest_daily", "commit", daySpan)(raw)(
                BoxOfficePipeline.ingestDaily(spark, storeRoot, _, date))
            }
            call("sources.movie_parse", "parse", daySpan) {
              KobisSource.movieList(spark, Seq(new File(landing, str(day.get("movies"))).getPath))
            }(identity).foreach { movies =>
              call("pipelines.upsert_movies", "commit", daySpan)(movies)(
                BoxOfficePipeline.upsertMovies(spark, storeRoot, _))
            }
            call("api.ingest_goods_events", "commit", daySpan) {
              spark.read.schema(goodsSchema).json(new File(landing, str(day.get("goods"))).getPath)
            }(api.ingestGoodsEvents(_, aliases, movieEvents, date))
          }

          maps(day.get("polls")).foreach { poll =>
            val pi = str(poll.get("index"))
            ctx.rec.group("poll", "poll", Some(daySpan), Seq("poll" -> pi)) { pollSpan =>
              val src = new File(landing, str(poll.get("file")))
              java.nio.file.Files.copy(src.toPath, new File(streamIn, s"${tag}_${src.getName}").toPath)
              val scrapedAt = poll.get("scraped_at_us").asInstanceOf[Number].longValue
              def obs = spark.read.parquet(src.getPath)
                .select("event_id", "theater_name", "status", "quantity")
              call("pipelines.append_stock", "commit", pollSpan)(obs)(
                BoxOfficePipeline.appendStock(spark, storeRoot, _, scrapedAt))
              var startMs = 0.0
              val ckpt = new File(root, "_checkpoints/current_stock").getAbsolutePath
              call("streaming.drain", "commit", pollSpan,
                  Seq("stream_start_ms" -> Json.num(startMs))) {
                val stream = spark.readStream.schema(pollSchema).parquet(streamIn.getAbsolutePath)
                  .as[LatestPerKeyStream.StockObs]
                StreamingUpsert.writer(spark, LatestPerKeyStream.latestPerKey(spark, stream).toDF(),
                    new File(root, "current_stock").getAbsolutePath,
                    Seq("event_id", "theater_name"), "scraped_at")
                  .outputMode("update")
                  .option("checkpointLocation", ckpt)
                  .trigger(Trigger.AvailableNow())
              } { w =>
                val s0 = System.currentTimeMillis()
                val q = w.start()
                q.awaitTermination()
                q.exception.foreach(e => throw e)
                ctx.rec.tracer.flatMap(_.firstBatchEnd(q.id.toString, s0))
                  .foreach(end => startMs = (end - s0).toDouble)
              }
              call("pipelines.fold", "commit", pollSpan) {
                IncrementalAgg.aggregateBatch(obs, RollupKeys, "quantity", "theater_name", SketchK)
              } { delta =>
                BucketedFoldStore.foldOnce(spark, new File(root, "stock_rollup").getAbsolutePath,
                  s"${tag}_poll_$pi", delta, RollupKeys, numBuckets = 8)(
                  IncrementalAgg.merge(_, _, RollupKeys, SketchK))
              }
              strings(poll.get("read_events")).foreach { e =>
                read("api.current_stock", s"read_${pi}_stock_$e", pollSpan)(api.currentStock(e))
              }
              read("api.period_top_movies", s"read_${pi}_top", pollSpan)(
                api.periodTopMovies(str(day.get("period_start")), date, 10))
              read("api.top_days", s"read_${pi}_days", pollSpan)(
                api.topDays(str(day.get("period_start")), date, 3))
            }
          }
        }
      }
      total / 1e3
    }

    val runs = new File(ctx.work, "stores")
    var generation = 0
    def freshRoot(tag: String): File = { generation += 1; new File(runs, s"$tag$generation") }
    // set-up units: every call once (the first day, its first poll, one
    // stock read), then one warm round of that poll alone into the same store
    def unit(d: java.util.Map[String, Object], withDay: Boolean): java.util.Map[String, Object] = {
      val u = new java.util.HashMap[String, Object](d)
      if (!withDay) u.remove("daily")
      val poll = new java.util.HashMap[String, Object](maps(d.get("polls")).head)
      poll.put("read_events", strings(poll.get("read_events")).take(1).asJava)
      u.put("polls", java.util.List.of(poll))
      u
    }
    val fixtureRoot = freshRoot("fixture")

    ctx.rec.phase = "fixture"
    replay(fixtureRoot, Seq(unit(days.head, withDay = true)), "fixture", checkResults = false)
    ctx.rec.phase = "warm"
    val w0 = System.nanoTime()
    replay(fixtureRoot, Seq(unit(days.head, withDay = false)), "warm", checkResults = false)
    summary("warm_s") = Json.num((System.nanoTime() - w0) / 1e9)

    var last: File = null
    ctx.timed(summary) { k =>
      last = freshRoot(s"timed$k-")
      val b0 = hadoopBytesWritten()
      val wall = replay(last, days, "timed", checkResults = true)
      summary("store_bytes_written") = (hadoopBytesWritten() - b0).toString
      wall
    }
    summary("store_bytes_live") = walk(last).values.sum.toString

    // the final store, for the recompute over every landed input
    ctx.rec.phase = "final"
    val root = last.getAbsolutePath
    def dump(key: String, df: DataFrame): Unit = {
      val rows = df.collect()
      ctx.rec.check(key, df, rows, ordered = false).foreach(ctx.rec.fail(s"check:$key", None, _))
    }
    Seq("boxoffice", "movie", "goods_event", "goods_stock", "current_stock").foreach { t =>
      dump(s"final_$t", spark.read.parquet(s"$root/$t"))
    }
    dump("final_rollup", IncrementalAgg.finalize(
      BucketedFoldStore.readState(spark, s"$root/stock_rollup"), RollupKeys, SketchK))
  }
}

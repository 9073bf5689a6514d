package perfbench

import graft.core.{VdbHit, VdbRecord, VdbStore}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, get_json_object}

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Shared state of one run and the steps every workload uses. */
final class Ctx(val spark: SparkSession, val gen: Gen, val rec: Recorder, val args: Args,
                val work: File, val startS: Double) {
  val sc = spark.sparkContext
  val p: GenParams = gen.p

  /** The oracle for the initial store. */
  lazy val baseModel: Model = {
    val m = new Model
    gen.rows.indices.foreach(i => m.put(Gen.id(i), gen.rows(i)))
    m
  }

  /** The generated rows as a cached RDD: the bulk input every set-up
    * repetition upserts. Built once, and counted once in set-up time.
    */
  lazy val input: org.apache.spark.rdd.RDD[(String, Array[Float], String)] = {
    val rows = gen.rows.indices.map(i => (Gen.id(i), gen.rows(i), Gen.meta(i)))
    val rdd = sc.parallelize(rows, sc.defaultParallelism).persist()
    rdd.count()
    rdd
  }

  /** Drops every cached table and pinned RDD but the input, as dropping a
    * store would if VdbStore had a public close.
    */
  def release(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.filter(_.id != input.id).foreach(_.unpersist(blocking = true))
  }

  /** Bulk upsertDF of the generated rows, then one query, which packs the
    * scan blocks. Returns the store and the seconds it took.
    */
  def buildStore(): (VdbStore, Double) = {
    val t0 = System.nanoTime()
    val store = VdbStore.empty(spark, p.dim)
    store.upsertDF(spark.createDataFrame(input).toDF("_id_", "vector", "meta"), dedupIds = false)
    store.query(Seq(gen.queries(0)), topK = 10)
    (store, (System.nanoTime() - t0) / 1e9)
  }

  /** Sets up [[Ctx.SetupReps]] times and keeps the last store. Set-up time is
    * the Spark start, data generation and input caching, the median
    * repetition, and `after` (run once, on the kept store).
    */
  def setup(res: Result, after: VdbStore => Unit = _ => ()): VdbStore = {
    val i0 = System.nanoTime()
    input
    val inputS = (System.nanoTime() - i0) / 1e9
    val times = (0 until Ctx.SetupReps).map { r =>
      if (r > 0) release()
      buildStore()
    }
    val store = times.last._1
    val t0 = System.nanoTime()
    after(store)
    input.unpersist(blocking = true)
    res.setupS = startS + inputS + Stats.median(times.map(_._2)) + (System.nanoTime() - t0) / 1e9
    res.extra("setup.start_s") = M(startS, "s")
    res.extra("setup.input_s") = M(inputS, "s")
    times.zipWithIndex.foreach { case ((_, t), i) => res.extra(s"setup.rep${i}_s") = M(t, "s") }
    store
  }

  /** What Spark's block manager holds for cached RDDs right now. */
  def recordCache(res: Result): Unit = {
    val infos = sc.getRDDStorageInfo
    val mem = infos.map(_.memSize).sum / 1048576.0
    val disk = infos.map(_.diskSize).sum / 1048576.0
    res.cacheMb = mem + disk
    res.layer("cache.mem_mb") = M(mem, "MB")
    res.layer("cache.disk_mb") = M(disk, "MB")
    res.layer("cache.rdds_pinned") = M(sc.getPersistentRDDs.size, "count")
  }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  /** Closed loop with one client: runs `step` until the clock (which leaves
    * out checking) reaches the run length and `mix` is at the end of a
    * block, so every run has the same mix; a traced run takes at least
    * `minSteps` steps.
    */
  def loop(res: Result, mix: Option[Mix[_]], minSteps: Int = 1)(step: Clock => Unit): Unit = {
    val clock = new Clock(args.seconds, () => rec.tracingNs)
    val g0 = gcMs
    var steps = 0
    def more = !clock.done || !mix.forall(_.atBlockEnd) || (args.trace && steps < minSteps)
    while (more) {
      step(clock)
      steps += 1
      res.heapPeakMb = math.max(res.heapPeakMb,
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    }
    res.loopS = clock.elapsedS
    res.jvmGcMs = gcMs - g0
  }

  def hits(h: Seq[VdbHit]): Seq[(String, Double)] = h.map(x => x.id -> x.metrics)

  /** Checks one exact answer and counts it; false when it is wrong. */
  def checkExact(res: Result, got: Seq[VdbHit], q: Array[Float], truth: Array[(String, Double)],
                 model: Model, accept: String => Boolean,
                 betterThan: Option[Double] = None): Boolean = {
    val ok = Check.exact(hits(got), truth, 10, model, q, accept, betterThan)
    res.checks += 1
    res.recall += Check.recall(hits(got), truth, 10, model, q, accept)
    if (!ok) {
      res.wrong += 1
      System.err.println(s"perfbench: wrong answer ${hits(got).take(3)} vs ${truth.take(3).toSeq}")
    }
    ok
  }
}

/** Draws call types in shuffled blocks, so every run has the same mix. */
final class Mix[T](rng: java.util.Random, block: Seq[T]) {
  private var queue = List.empty[T]
  def atBlockEnd: Boolean = queue.isEmpty
  def next(): T = {
    if (queue.isEmpty) {
      val l = new java.util.ArrayList[T](block.asJava)
      java.util.Collections.shuffle(l, rng)
      queue = l.asScala.toList
    }
    val h = queue.head
    queue = queue.tail
    h
  }
}

object Ctx {
  /** Set-ups per run; the first is cold, so the median is a warm one. */
  val SetupReps = 3
}

object Workloads {
  val K = 10

  def catWhere(c: Int): Column = get_json_object(col("meta"), "$.cat").cast("int") === c

  /** Single-vector calls in the reference profiler's scenario mix. */
  def servePoint(ctx: Ctx): Result = {
    val res = new Result
    val store = ctx.setup(res)
    val p = ctx.p
    val model = ctx.baseModel
    val rng = ctx.gen.choiceStream(1)
    val idSets = Array.fill(8) {
      rng.ints(0, p.rows).distinct().limit(math.max(1, p.rows / 100)).toArray.toSeq.map(Gen.id)
    }
    val idSetLookup = idSets.map(_.toSet)
    val truth = mutable.HashMap[(Int, String), Array[(String, Double)]]()
    def truthOf(qi: Int, key: String, accept: String => Boolean) =
      truth.getOrElseUpdate((qi, key), model.ranked(ctx.gen.queries(qi), accept, 2 * K))

    // warm every call type once, unrecorded
    store.query(Seq(ctx.gen.queries(1)), K, where = Some(catWhere(1)))
    store.query(Seq(ctx.gen.queries(1)), K, ids = Some(idSets(0)))
    store.query(Seq(ctx.gen.queries(1)), K, betterThan = Some(0.1))
    store.get(idSets(0).take(K))

    val mix = new Mix(rng, Seq.fill(8)("query") ++ Seq("where", "ids", "bt", "get").flatMap(Seq.fill(3)(_)))
    ctx.loop(res, Some(mix)) { clock =>
      val kind = mix.next()
      val qi = rng.nextInt(p.queryPool)
      val q = ctx.gen.queries(qi)
      def checked(got: Option[Seq[Seq[VdbHit]]], key: String, accept: String => Boolean,
                  bt: Option[Double] = None): Unit = clock.paused(got.foreach { g =>
        if (!ctx.checkExact(res, g.head, q, truthOf(qi, key, accept), model, accept, bt)) ctx.rec.failLast()
      })
      if (kind == "query") {
        checked(ctx.rec.call("query", 1)(store.query(Seq(q), K)), "all", _ => true)
      } else if (kind == "where") {
        val c = rng.nextInt(10)
        checked(ctx.rec.call("query_where", 1)(store.query(Seq(q), K, where = Some(catWhere(c)))),
          s"cat$c", id => Gen.cat(Gen.idIndex(id)) == c)
      } else if (kind == "ids") {
        val s = rng.nextInt(idSets.length)
        checked(ctx.rec.call("query_ids", 1)(store.query(Seq(q), K, ids = Some(idSets(s)))),
          s"ids$s", idSetLookup(s))
      } else if (kind == "bt") {
        checked(ctx.rec.call("query_bt", 1)(store.query(Seq(q), K, betterThan = Some(0.1))),
          "all", _ => true, bt = Some(0.1))
      } else {
        val ids = Seq.fill(K)(Gen.id(rng.nextInt(p.rows))).distinct
        val got = ctx.rec.call("get")(store.get(ids))
        clock.paused(got.foreach { g =>
          res.checks += 1
          val ok = g.map(_.id) == ids &&
            g.forall(h => h.metaJson.contains(Gen.meta(Gen.idIndex(h.id))))
          if (!ok) { res.wrong += 1; ctx.rec.failLast() }
        })
      }
    }
    finish(ctx, res, store)
  }

  /** Sessions of the reference's lifecycle: load, queries between upserts
    * and deletes, vacuum, save back to the same path.
    */
  def writeMix(ctx: Ctx): Result = {
    val res = new Result
    val path = new File(ctx.work, "store").getAbsolutePath
    val saves = mutable.ArrayBuffer[Double]()
    val loads = mutable.ArrayBuffer[Double]()
    ctx.setup(res, _.save(path))
    ctx.release()
    val model = new Model
    ctx.gen.rows.indices.foreach(i => model.put(Gen.id(i), ctx.gen.rows(i)))
    var nextNew = ctx.p.rows
    var session = 0
    val partitions = mutable.ArrayBuffer[Double]()
    val rounds = mutable.ArrayBuffer[Double]()
    var filesWritten = 0.0
    var bytesWritten = 0.0
    val (diskBefore, _) = dirSize(new File(path))

    def query(store: VdbStore, rng: java.util.Random, clock: Clock, first: Boolean): Unit = {
      val qs = Seq.fill(10)(ctx.gen.queries(rng.nextInt(ctx.p.queryPool)))
      val got = ctx.rec.call("query", qs.size)(store.query(qs, K))
      if (first) res.firstAfterMutation += ctx.rec.calls.last.id
      clock.paused(got.foreach { g =>
        val ok = g.size == qs.size && qs.indices.take(3).forall { i =>
          ctx.checkExact(res, g(i), qs(i), model.ranked(qs(i), _ => true, 2 * K), model, _ => true)
        }
        if (!ok) ctx.rec.failLast()
      })
    }

    // A traced run has two sessions; each traces the calls the other does not.
    ctx.loop(res, None, minSteps = 2) { clock =>
      ctx.rec.parent = s"session-$session"
      ctx.rec.restartAlternation(flipped = session % 2 == 1)
      val rng = ctx.gen.choiceStream(10 + session)
      val wrng = ctx.gen.writeStream(session)
      val store = ctx.rec.call("load")(VdbStore.load(ctx.spark, path)).get
      val lq0 = ctx.rec.calls.last.wallMs
      query(store, rng, clock, first = false)
      loads += (lq0 + ctx.rec.calls.last.wallMs) / 1e3
      val deletedThisSession = mutable.ArrayBuffer[String]()
      (0 until 4).foreach { round =>
        val liveIds = model.live.keysIterator.toArray
        val updates = pick(liveIds, 50, rng)
        val news = (0 until 50).map { _ => nextNew += 1; Gen.id(nextNew - 1) }
        val recs = (updates ++ news).map { id =>
          val m = Gen.meta(Gen.idIndex(id))
          VdbRecord(id, ctx.gen.vectorFrom(wrng), m)
        }
        val r0 = clock.elapsedS
        val rep = ctx.rec.call("upsert")(store.upsert(recs))
        clock.paused {
          recs.foreach(r => model.put(r.id, r.vector))
          res.checks += 1
          if (!rep.exists(x => x.update == updates.sorted && x.insert == news.sorted)) {
            res.wrong += 1; ctx.rec.failLast()
          }
          if (ctx.args.trace) partitions += store.df.rdd.getNumPartitions
        }
        query(store, rng, clock, first = true)
        val dels = pick(model.live.keysIterator.toArray, 50, rng)
        val removed = ctx.rec.call("delete")(store.delete(dels))
        clock.paused {
          dels.foreach(model.remove)
          deletedThisSession ++= dels
          res.checks += 1
          if (!removed.contains(dels.sorted)) { res.wrong += 1; ctx.rec.failLast() }
          if (ctx.args.trace) partitions += store.df.rdd.getNumPartitions
        }
        query(store, rng, clock, first = true)
        rounds += (clock.elapsedS - r0) * 1e3
      }
      ctx.rec.call("vacuum")(store.vacuum())
      ctx.rec.call("save")(store.save(path))
      val save = ctx.rec.calls.last
      saves += save.wallMs / 1e3
      clock.paused {
        val (bytes, files) = dirSize(new File(path), since = save.startMs.toLong)
        bytesWritten += bytes; filesWritten += files
        res.checks += 1
        val sample = pick(model.live.keysIterator.toArray, 20, rng)
        val got = store.get(deletedThisSession.toSeq ++ sample)
        val ok = store.count() == model.live.size &&
          got.map(_.id) == sample &&
          got.forall(h => h.metaJson.contains(Gen.meta(Gen.idIndex(h.id))))
        if (!ok) {
          res.wrong += 1
          ctx.rec.failLast()
          System.err.println(s"perfbench: session $session state check failed")
        }
        ctx.recordCache(res)
        ctx.release()
      }
      session += 1
    }
    ctx.rec.parent = "workload"
    val liveBytes = model.live.size.toDouble * ctx.p.dim * 4
    val (diskAfter, _) = dirSize(new File(path))
    res.extra("save_s") = M(Stats.median(saves.toSeq), "s")
    res.extra("load_to_query_s") = M(Stats.median(loads.toSeq), "s")
    res.extra("disk_bytes_per_user_byte") = M(diskAfter / liveBytes, "ratio")
    res.extra("sessions") = M(session, "count")
    res.extra("initial_disk_bytes_per_user_byte") = M(diskBefore / liveBytes, "ratio")
    res.extra("round_ms_first") = M(Stats.median(rounds.indices.filter(_ % 4 == 0).map(rounds).toSeq), "ms")
    res.extra("round_ms_fourth") = M(Stats.median(rounds.indices.filter(_ % 4 == 3).map(rounds).toSeq), "ms")
    res.layer("storeio.files_written") = M(filesWritten / math.max(1, session), "count")
    res.layer("storeio.bytes_written") = M(bytesWritten / math.max(1, session), "bytes")
    if (partitions.nonEmpty) res.snapshotPartitions = partitions.max.toInt
    if (partitions.nonEmpty)
      res.extra("spark.snapshot_partitions_by_mutation") = M(Stats.mean(partitions.toSeq), "count")
    res
  }

  /** HNSW serving: the graph accelerator with the reference defaults. */
  def annServe(ctx: Ctx): Result = {
    val res = new Result
    val store = ctx.setup(res)
    val model = ctx.baseModel
    val pool = ctx.gen.queries
    val truth = pool.map(q => model.ranked(q, _ => true, 2 * K)) // untimed, outside set-up
    val rng = ctx.gen.choiceStream(4)

    store.enableHnsw(m = 16, efConstruction = 100)
    ctx.rec.parent = "build"
    val built = ctx.rec.call("query", 1, alwaysTrace = true)(store.query(Seq(pool(0)), K))
    ctx.rec.parent = "workload"
    val buildCall = ctx.rec.calls.last
    res.extra("index_build_s") = M(buildCall.wallMs / 1e3, "s")
    res.extra("hnswstore.refresh_s") = M(store.lastTimings.getOrElse("hnsw_refresh", Double.NaN), "s")
    if (!built.exists(_ => store.lastQueryStrategy.contains("hnsw"))) {
      res.wrong += 1
      ctx.rec.failLast()
    }

    def check(got: Seq[Seq[VdbHit]], idx: Seq[Int]): Boolean = {
      val strategyOk = store.lastQueryStrategy.contains("hnsw")
      res.checks += 1
      idx.indices.foreach(j => res.recall += Check.recall(ctx.hits(got(j)), truth(idx(j)), K, model, pool(idx(j)), _ => true))
      val rows = idx.indices.take(10).map { j =>
        val q = pool(idx(j))
        val h = ctx.hits(got(j))
        h.size == K && h.map(_._1).distinct.size == K &&
          h.sliding(2).forall(w => w(0)._2 >= w(1)._2 - Check.Eps) &&
          h.forall { case (id, s) => model.score(q, id).exists(t => math.abs(t - s) <= Check.Eps) }
      }
      val ok = strategyOk && got.size == idx.size && rows.forall(identity)
      if (!ok) res.wrong += 1
      ok
    }

    val mix = new Mix(rng, Seq.fill(7)(1) ++ Seq.fill(3)(100))
    ctx.loop(res, Some(mix)) { clock =>
      val n = mix.next()
      val idx = Seq.fill(n)(rng.nextInt(pool.length))
      val got = ctx.rec.call("query", n)(store.query(idx.map(pool), K))
      clock.paused(got.foreach(g => if (!check(g, idx)) ctx.rec.failLast()))
    }
    finish(ctx, res, store)
  }

  private def finish(ctx: Ctx, res: Result, store: VdbStore): Result = {
    ctx.recordCache(res)
    res.snapshotPartitions = store.df.rdd.getNumPartitions
    res
  }

  private def pick(ids: Array[String], n: Int, rng: java.util.Random): Seq[String] = {
    val out = mutable.LinkedHashSet[String]()
    while (out.size < n) out += ids(rng.nextInt(ids.length))
    out.toSeq
  }

  /** Bytes and files under a directory, counting files modified at or
    * after `since` (epoch ms).
    */
  def dirSize(f: File, since: Long = 0L): (Double, Double) =
    if (f.isFile) { if (f.lastModified() >= since) (f.length().toDouble, 1.0) else (0.0, 0.0) }
    else Option(f.listFiles()).toSeq.flatten.map(dirSize(_, since)).foldLeft((0.0, 0.0)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }
}

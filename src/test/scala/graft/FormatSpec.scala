package graft

import org.apache.spark.sql.functions._
import graft.sources.{ParquetDirFormat, Tables, TxLogFormat}
import graft.pipeline._
import java.nio.file.{Files, Paths}

/** TxLogFormat: ACID semantics (atomic commits, snapshot isolation, time
  * travel, crash-invisibility), file-granular delete incl. escaped + null
  * partition values, and drop-in Pipeline parity with ParquetDirFormat. */
class FormatSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_fmt").resolve("t").toString

  test("write/read roundtrip, partitioned + clustered; one commit") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val t = tmp()
    TxLogFormat.write(orders, t, Some("o_orderstatus"), Seq("o_orderkey"))
    assert(rows(TxLogFormat.read(spark, t).orderBy("o_orderkey")) ==
      rows(orders.orderBy("o_orderkey")))
    assert(TxLogFormat.versions(t) == Seq(0L))
    // partition column recovered from dir layout via basePath
    assert(TxLogFormat.read(spark, t).columns.toSet ==
      Set("o_orderkey", "o_orderstatus", "o_totalprice"))
  }

  test("overwritePartitions replaces exactly the partitions present") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val t = tmp()
    TxLogFormat.write(orders, t, Some("o_orderstatus"))
    val statuses = orders.select("o_orderstatus").distinct()
      .collect().map(_.getString(0)).sorted
    val touched = statuses.head
    val patch = orders.filter(col("o_orderstatus") === touched)
      .withColumn("o_totalprice", lit(0.0))
    TxLogFormat.overwritePartitions(patch, t, "o_orderstatus")
    val got = TxLogFormat.read(spark, t)
    assert(got.filter(col("o_orderstatus") === touched)
      .agg(sum("o_totalprice")).head().getDouble(0) == 0.0)
    // untouched partitions byte-identical rows
    assert(rows(got.filter(col("o_orderstatus") =!= touched).orderBy("o_orderkey")) ==
      rows(orders.filter(col("o_orderstatus") =!= touched).orderBy("o_orderkey")))
  }

  test("replace whose plan reads the current table; time travel keeps v0") {
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val t = tmp()
    TxLogFormat.write(orders, t)
    val current = TxLogFormat.read(spark, t)
    // the incremental-merge shape: new content computed FROM the table
    TxLogFormat.replace(spark,
      current.withColumn("o_totalprice", col("o_totalprice") + 1), t)
    assert(rows(TxLogFormat.read(spark, t).orderBy("o_orderkey")) ==
      rows(orders.withColumn("o_totalprice", col("o_totalprice") + 1)
        .orderBy("o_orderkey")))
    // snapshot isolation dividend: v0 still fully readable
    assert(rows(TxLogFormat.readVersion(spark, t, 0).orderBy("o_orderkey")) ==
      rows(orders.orderBy("o_orderkey")))
    assert(TxLogFormat.history(t).map(_._1) == Seq(0L, 1L))
  }

  test("a crashed writer is invisible: uncommitted files don't surface") {
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val t = tmp()
    TxLogFormat.write(orders, t)
    val before = rows(TxLogFormat.read(spark, t).orderBy("o_orderkey"))
    // simulate a writer that died after landing data files but before its
    // commit: drop a parquet file into the table dir with no log entry
    val scratch = Paths.get(tmp()).getParent
    orders.limit(5).coalesce(1).write.mode("overwrite")
      .parquet(scratch.toString)
    val it = Files.list(scratch).iterator()
    var moved = false
    while (it.hasNext) {
      val f = it.next()
      if (f.toString.endsWith(".parquet") && !moved) {
        Files.move(f, Paths.get(t).resolve("part-orphan.parquet")); moved = true
      }
    }
    assert(moved)
    assert(rows(TxLogFormat.read(spark, t).orderBy("o_orderkey")) == before)
  }

  test("deleteKeys is file-granular and survives escaped + null partitions") {
    val df = spark.createDataFrame(Seq(
      (1L, "flash sale"), (2L, "flash sale"), (3L, "a=b:c%d"),
      (4L, "plain"), (5L, "plain"), (6L, "plain")
    )).toDF("id", "seg")
      .union(spark.createDataFrame(Seq((7L, null.asInstanceOf[String])))
        .toDF("id", "seg"))
    val t = tmp()
    TxLogFormat.write(df, t, Some("seg"))
    val keys = spark.createDataFrame(Seq(Tuple1(1L), Tuple1(3L), Tuple1(7L)))
      .toDF("del_id")
    val affected = TxLogFormat.deleteKeys(spark, t, "seg", "id", keys)
    assert(affected.toSet ==
      Set("flash sale", "a=b:c%d", "__HIVE_DEFAULT_PARTITION__"))
    val got = TxLogFormat.read(spark, t)
    assert(got.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 4L, 5L, 6L))
    // the untouched partition's files were not rewritten
    val hist = TxLogFormat.history(t)
    assert(hist.size == 2)
  }

  test("merge upserts atomically, rewrites only hit files, evolves schema") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val t = tmp()
    TxLogFormat.write(orders, t, Some("o_orderstatus"))
    val filesBefore = TxLogFormat.history(t).map(_._2).sum
    // source: update every 10th key whole-row (+ a NEW column), insert fresh keys
    val updates = orders.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("U").as("o_orderstatus"), (col("o_totalprice") + 1).as("o_totalprice"),
        lit("m1").as("merge_tag"))
    val inserts = orders.filter(col("o_orderkey") % 1000 === 1)
      .select((col("o_orderkey") + 5000000).as("o_orderkey"), col("o_custkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"),
        lit("m1").as("merge_tag"))
    val rewritten = TxLogFormat.merge(spark, t, "o_orderkey",
      updates.unionAll(inserts), Some("o_orderstatus"))
    val got = TxLogFormat.read(spark, t)
    // merged result = base minus matched keys, plus the whole source
    val matched = updates.select("o_orderkey")
    val want = orders.join(matched, Seq("o_orderkey"), "left_anti")
      .withColumn("merge_tag", lit(null.asInstanceOf[String]))
      .unionAll(updates).unionAll(inserts)
    assert(rows(got.orderBy("o_orderkey", "o_orderstatus")) ==
      rows(want.orderBy("o_orderkey", "o_orderstatus")))
    // file granularity: some files rewrote, but not all of them
    assert(rewritten > 0 && rewritten <= filesBefore)
    val hist = TxLogFormat.history(t)
    assert(hist.size == 2 && hist(1)._3 == rewritten)
    // old rows null-fill the appended column; source rows carry it
    assert(got.filter(col("merge_tag").isNull).count() ==
      orders.count() - updates.count())
    // atomicity: time travel still shows the pre-merge table
    assert(TxLogFormat.readVersion(spark, t, 0).count() == orders.count())
  }

  test("compact bounds files per partition, rows untouched, one commit") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .repartition(8) // force many small files per partition
    val t = tmp()
    TxLogFormat.write(orders, t, Some("o_orderstatus"))
    val before = rows(TxLogFormat.read(spark, t).orderBy("o_orderkey"))
    val budget = TxLogFormat.compact(spark, t, "o_orderstatus")
    assert(budget.values.forall(_ == 1)) // tiny data: one file per part
    assert(rows(TxLogFormat.read(spark, t).orderBy("o_orderkey")) == before)
    val liveByPart = TxLogFormat.history(t) // v0 write, v1 compact
    assert(liveByPart.map(_._1) == Seq(0L, 1L))
  }

  test("vacuum checkpoints the horizon, reclaims unreachable files, " +
       "preserves the current read") {
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val t = tmp()
    TxLogFormat.write(orders, t)                       // v0
    TxLogFormat.replace(spark,
      TxLogFormat.read(spark, t).filter(col("o_orderkey") % 2 === 0), t) // v1
    TxLogFormat.replace(spark,
      TxLogFormat.read(spark, t).filter(col("o_orderkey") % 4 === 0), t) // v2
    val want = rows(TxLogFormat.read(spark, t).orderBy("o_orderkey"))
    val deleted = TxLogFormat.vacuum(t, retainVersions = 1)
    assert(deleted > 0)
    assert(TxLogFormat.versions(t) == Seq(2L)) // checkpointed horizon only
    assert(rows(TxLogFormat.read(spark, t).orderBy("o_orderkey")) == want)
  }

  test("auto-checkpoint sidecars: resolution needs only the latest " +
       "sidecar + trailing commits; history stays intact; vacuum sweeps") {
    // the streaming-sink shape: one small append commit per micro-batch,
    // never vacuumed — the r7 hazard was a linearly growing log fold
    val t = tmp()
    val one = (i: Int) => spark.range(i, i + 1)
      .selectExpr("id AS k", "id * 2 AS v")
    (0 until 25).foreach(i =>
      assert(TxLogFormat.appendBatch(one(i), t, "app", i.toLong)))
    // versions 0..24 at cadence 10 → sidecars at v10 and v20
    val lg = Paths.get(t, "_txlog")
    import scala.jdk.CollectionConverters._
    def cpVersions() = Files.list(lg).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".checkpoint"))
      .map(_.stripSuffix(".checkpoint").toLong).toSeq.sorted
    assert(cpVersions() == Seq(10L, 20L),
      s"expected sidecars at the cadence, got ${cpVersions()}")
    // commit history is fully intact (sidecars are a cache, not a fold-in)
    assert(TxLogFormat.versions(t) == (0L to 24L))
    val want = rows(TxLogFormat.read(spark, t).orderBy("k"))
    assert(want.size == 25)
    // time travel + txn ledger unaffected
    assert(TxLogFormat.readVersion(spark, t, 4L).count() == 5)
    assert(TxLogFormat.committedTxns(t) ==
      (0 until 25).map(i => s"app:$i").toSet)
    // THE property: current-state resolution reads only the newest sidecar
    // plus the <=interval commits after it. Deleting every commit the
    // sidecar covers must not change the resolved snapshot or the ledger.
    (0L to 20L).foreach(v =>
      Files.delete(lg.resolve(f"$v%016d.commit")))
    assert(rows(TxLogFormat.read(spark, t).orderBy("k")) == want)
    assert(TxLogFormat.committedTxns(t) ==
      (0 until 25).map(i => s"app:$i").toSet)
    // a new append still lands on the next slot and reads fold correctly
    assert(TxLogFormat.appendBatch(one(25), t, "app", 25L))
    assert(TxLogFormat.read(spark, t).count() == 26)
    // vacuum drops sidecars below its horizon (their covered commits die)
    TxLogFormat.vacuum(t, retainVersions = 1)
    assert(cpVersions().forall(_ >= TxLogFormat.versions(t).head),
      s"stale sidecars survived vacuum: ${cpVersions()}")
    assert(TxLogFormat.read(spark, t).count() == 26)
  }

  test("commit CAS: non-conflicting concurrent writers all land") {
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_orderstatus")
    val t = tmp()
    TxLogFormat.write(orders, t, Some("o_orderstatus"))
    val statuses = orders.select("o_orderstatus").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    assert(statuses.size >= 2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // one writer per partition: they race on the version slot (CAS +
    // retry) but never on files, so every commit must land
    val fs = statuses.map { st =>
      Future {
        TxLogFormat.overwritePartitions(
          orders.filter(col("o_orderstatus") === st)
            .withColumn("o_orderkey", -col("o_orderkey")),
          t, "o_orderstatus")
      }
    }
    Await.result(Future.sequence(fs), 120.seconds)
    assert(TxLogFormat.versions(t) == (0L to statuses.size.toLong))
    val got = TxLogFormat.read(spark, t)
    assert(got.count() == orders.count())
    assert(got.filter(col("o_orderkey") > 0).count() == 0) // all rewritten
  }

  test("appendBatch: replayed batches skip; vacuum keeps the txn ledger") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus").limit(10)
    val t = tmp()
    assert(TxLogFormat.appendBatch(orders, t, "app", 0L))
    assert(!TxLogFormat.appendBatch(orders, t, "app", 0L)) // replay → skip
    assert(TxLogFormat.appendBatch(orders, t, "app", 1L))
    assert(TxLogFormat.read(spark, t).count() == 20)
    assert(TxLogFormat.committedTxns(t) == Set("app:0", "app:1"))
    TxLogFormat.vacuum(t, retainVersions = 1)
    // the checkpoint carried the tags forward: replay still skips
    assert(!TxLogFormat.appendBatch(orders, t, "app", 1L))
    assert(TxLogFormat.read(spark, t).count() == 20)
  }

  test("model-based: random op sequence matches an in-memory reference") {
    // fixed-seed sequence of format ops vs a plain Scala model of the
    // table: after EVERY op (incl. compact + vacuum, which must be
    // content-neutral) the read must equal the model exactly.
    val rnd = new scala.util.Random(42)
    val parts = Seq("alpha", "with space", "x=y%z")
    def df(rs: Seq[(Long, String, Long)]) =
      spark.createDataFrame(rs).toDF("id", "part", "v")
    def fresh(n: Int): Seq[(Long, String, Long)] =
      (1 to n).map(_ => (rnd.nextInt(50).toLong, parts(rnd.nextInt(parts.size)),
        rnd.nextInt(1000).toLong))
    val t = tmp()
    var model: Seq[(Long, String, Long)] = fresh(30)
    TxLogFormat.write(df(model), t, Some("part"))
    // content as of every committed version — the oracle for restore
    val history = scala.collection.mutable.Map[Long, Seq[(Long, String, Long)]]()
    def record(): Unit = history(TxLogFormat.versions(t).last) = model
    record()
    def check(op: String): Unit = {
      val got = TxLogFormat.read(spark, t).select("id", "part", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
      assert(got == model.sorted, s"diverged after $op")
      // the stats-backed fast paths must agree after EVERY op mix
      assert(TxLogFormat.count(spark, t) == model.size.toLong,
        s"metadata count diverged after $op")
      val sc = TxLogFormat.scan(spark, t, col("id") < 25)
        .select("id", "part", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
      assert(sc == model.filter(_._1 < 25).sorted, s"scan diverged after $op")
      // bloom-equality scan (fixed probe value — a fresh rnd draw here
      // would shift the op sequence): min/max AND bloom pruning compose,
      // and must stay invisible through any op mix incl. vacuum folds
      val bl = TxLogFormat.scan(spark, t, col("v") === 500L)
        .select("id", "part", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
      assert(bl == model.filter(_._3 == 500L).sorted,
        s"bloom scan diverged after $op")
    }
    check("write")
    // a standing constraint every generator output satisfies: enforcement
    // must stay invisible through any op mix (and survive vacuum folds)
    val consV = TxLogFormat.addConstraint(spark, t, "v_bounded",
      "v >= 0 AND v < 1000")
    record() // the declaration is a version too — restore/clone may pick it
    // a standing bloom index: every later write records per-file filters,
    // and the check()'s equality scan exercises the probe after every op
    val bloomV = TxLogFormat.addBloomIndex(t, "v", numBits = 1 << 10)
    record()
    (1 to 20).foreach { i =>
      rnd.nextInt(10) match {
        case 0 => // overwrite one partition
          val p = parts(rnd.nextInt(parts.size))
          val repl = fresh(8).map { case (id, _, v) => (id, p, v) }
          TxLogFormat.overwritePartitions(df(repl), t, "part")
          model = model.filterNot(_._2 == p) ++ repl
          record(); check(s"$i:overwritePartitions($p)")
        case 1 => // tagged append
          val extra = fresh(5)
          if (TxLogFormat.appendBatch(df(extra), t, "prop", i, Some("part")))
            model = model ++ extra
          record(); check(s"$i:appendBatch")
        case 2 => // delete a random key set
          val ks = Seq.fill(3)(rnd.nextInt(50).toLong).distinct
          TxLogFormat.deleteKeys(spark, t, "part", "id",
            df(ks.map(k => (k, "", 0L))).select(col("id").as("k")))
          model = model.filterNot(r => ks.contains(r._1))
          record(); check(s"$i:deleteKeys($ks)")
        case 3 =>
          TxLogFormat.compact(spark, t, "part")
          record(); check(s"$i:compact")
        case 4 =>
          TxLogFormat.vacuum(t, retainVersions = 1 + rnd.nextInt(3))
          check(s"$i:vacuum")
        case 5 =>
          TxLogFormat.compactClustered(spark, t, "part", Seq("v"),
            targetBytes = 32L * 1024)
          record(); check(s"$i:compactClustered")
        case 6 => // roll back to any still-retained version
          val vs = TxLogFormat.versions(t)
          val rv = vs(rnd.nextInt(vs.size))
          TxLogFormat.restore(t, rv)
          model = history(rv)
          record(); check(s"$i:restore($rv)")
        case 7 => // clone at a retained version; clone content == history
          val vs = TxLogFormat.versions(t)
          val rv = vs(rnd.nextInt(vs.size))
          val c = tmp()
          TxLogFormat.cloneTable(t, c, rv)
          val got = TxLogFormat.read(spark, c).select("id", "part", "v")
            .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
            .toSeq.sorted
          assert(got == history(rv).sorted, s"$i:clone($rv) diverged")
          // constraint state is versioned too: a clone of a pre-declaration
          // snapshot must NOT carry it, any later one must
          assert(TxLogFormat.constraints(c).contains("v_bounded") == (rv >= consV),
            s"$i:clone($rv) constraint state wrong")
          // bloom declarations are versioned the same way
          assert(TxLogFormat.bloomIndexes(c).contains("v") == (rv >= bloomV),
            s"$i:clone($rv) bloom-index state wrong")
          check(s"$i:clone($rv) [source]") // source must be untouched
        case 8 => // merge-on-read delete: vectors, no rewrite
          val k = rnd.nextInt(50).toLong
          TxLogFormat.deleteVectors(spark, t, col("id") === k)
          if (model.exists(_._1 == k)) {
            model = model.filterNot(_._1 == k)
            record()
          }
          check(s"$i:deleteVectors($k)")
        case 9 => // materialize outstanding vectors (content-neutral)
          TxLogFormat.purgeDeletes(spark, t, Some("part"))
          if (TxLogFormat.versions(t).last > history.keys.max) record()
          check(s"$i:purgeDeletes")
      }
    }
    // the standing constraint survived everything — and still enforces
    assert(TxLogFormat.constraints(t).keySet == Set("v_bounded"))
    intercept[Exception] {
      TxLogFormat.appendBatch(df(Seq((1L, "alpha", -5L))), t, "prop", 999L,
        Some("part"))
    }
    check("post-fuzz constraint refusal")
  }

  test("schema evolution: appended columns null-fill old files; " +
       "type changes refused") {
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val t = tmp()
    TxLogFormat.write(orders.filter(col("o_orderkey") <= 100), t)
    // batch 1 carries a NEW column; batch 2 OMITS an old one
    assert(TxLogFormat.appendBatch(
      orders.filter(col("o_orderkey") > 100 && col("o_orderkey") <= 200)
        .withColumn("o_flag", lit("new")), t, "app", 1L))
    assert(TxLogFormat.appendBatch(
      orders.filter(col("o_orderkey") > 200 && col("o_orderkey") <= 300)
        .select("o_orderkey"), t, "app", 2L))
    val got = TxLogFormat.read(spark, t)
    // committed order: old columns first, new appended
    assert(got.columns.toSeq == Seq("o_orderkey", "o_totalprice", "o_flag"))
    assert(got.filter(col("o_orderkey") <= 100 && col("o_flag").isNull)
      .count() == orders.filter(col("o_orderkey") <= 100).count())
    assert(got.filter(col("o_flag") === "new").count() ==
      orders.filter(col("o_orderkey") > 100 && col("o_orderkey") <= 200).count())
    assert(got.filter(col("o_orderkey") > 200 && col("o_totalprice").isNull)
      .count() ==
      orders.filter(col("o_orderkey") > 200 && col("o_orderkey") <= 300).count())
    // a type change must fail loudly, not corrupt silently
    val e = intercept[IllegalArgumentException](TxLogFormat.appendBatch(
      orders.withColumn("o_totalprice", col("o_totalprice").cast("string")),
      t, "app", 3L))
    assert(e.getMessage.contains("o_totalprice"))
    // time travel still reads v0 under ITS schema-compatible committed view
    assert(TxLogFormat.readVersion(spark, t, 0).columns.toSeq ==
      Seq("o_orderkey", "o_totalprice"))
  }

  test("schema evolution: a type that differs only in nullability is the " +
       "same type; the committed schema keeps the more nullable form") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def batch(ids: Seq[Long], containsNull: Boolean) = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i => Row(i, Seq(i.toFloat, 0.5f)))),
      StructType(Seq(StructField("id", LongType),
        StructField("vec", ArrayType(FloatType, containsNull)))))
    def vecs(path: String) = TxLogFormat.read(spark, path).orderBy("id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
    val nullableVec = ArrayType(FloatType, containsNull = true)
    // committed containsNull = true, appended containsNull = false
    val t = tmp()
    TxLogFormat.write(batch(Seq(1L, 2L), containsNull = true), t)
    assert(TxLogFormat.appendBatch(batch(Seq(3L), containsNull = false),
      t, "app", 1L))
    assert(TxLogFormat.read(spark, t).schema("vec").dataType == nullableVec)
    assert(vecs(t) == Seq(1L -> Seq(1f, 0.5f), 2L -> Seq(2f, 0.5f),
      3L -> Seq(3f, 0.5f)))
    // the other way round widens the committed schema
    val t2 = tmp()
    TxLogFormat.write(batch(Seq(1L), containsNull = false), t2)
    assert(TxLogFormat.appendBatch(batch(Seq(2L), containsNull = true),
      t2, "app", 1L))
    assert(TxLogFormat.read(spark, t2).schema("vec").dataType == nullableVec)
    assert(vecs(t2) == Seq(1L -> Seq(1f, 0.5f), 2L -> Seq(2f, 0.5f)))
    // a real element-type change is still refused
    val e = intercept[IllegalArgumentException](TxLogFormat.appendBatch(
      batch(Seq(4L), containsNull = false)
        .withColumn("vec", col("vec").cast("array<double>")), t, "app", 2L))
    assert(e.getMessage.contains("array<float> -> array<double>"))
  }

  test("compactClustered: files cover disjoint cluster-key ranges, " +
       "rows untouched") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_custkey")
    val t = tmp()
    TxLogFormat.write(orders, t, Some("o_orderstatus"))
    // fragment: several appends leave many small hash-ordered files
    for (b <- 1 to 3)
      TxLogFormat.appendBatch(orders.filter(col("o_orderkey") % 4 === b),
        t, "frag", b.toLong, Some("o_orderstatus"))
    val before = rows(TxLogFormat.read(spark, t)
      .groupBy("o_orderkey").agg(count(lit(1)).as("n")).orderBy("o_orderkey"))
    TxLogFormat.compactClustered(spark, t, "o_orderstatus",
      Seq("o_custkey"), targetBytes = 16L * 1024)
    val got = TxLogFormat.read(spark, t)
    assert(rows(got.groupBy("o_orderkey").agg(count(lit(1)).as("n"))
      .orderBy("o_orderkey")) == before)
    // within each partition, per-file [min,max] of the cluster key are
    // pairwise non-overlapping (boundary ties excepted) — the property
    // parquet-stats file skipping rides on
    val ranges = got.withColumn("_f", input_file_name())
      .groupBy("o_orderstatus", "_f")
      .agg(min("o_custkey").as("mn"), max("o_custkey").as("mx"))
      .collect()
    val perPart = ranges.groupBy(_.getString(0))
    assert(perPart.values.exists(_.length > 1), "expected multi-file partitions")
    perPart.values.foreach { fs =>
      val sorted = fs.map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
      sorted.sliding(2).foreach {
        case Seq((_, mxA), (mnB, _)) =>
          assert(mxA <= mnB, s"overlapping file ranges: $sorted")
        case _ =>
      }
    }
  }

  test("scan skips files from log stats; always equals read+filter") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_custkey", "o_orderpriority")
    val t = tmp()
    // fragment into key-ranged files: each append's files cover a tight
    // disjoint o_orderkey range, the layout data skipping feeds on
    TxLogFormat.write(orders.filter(col("o_orderkey") < 300), t,
      Some("o_orderstatus"))
    for (b <- 1 to 4)
      TxLogFormat.appendBatch(
        orders.filter(col("o_orderkey") >= b * 300 &&
          col("o_orderkey") < (b + 1) * 300),
        t, "ranges", b.toLong, Some("o_orderstatus"))
    val full = TxLogFormat.read(spark, t)
    val allFiles = full.inputFiles.length
    def check(p: org.apache.spark.sql.Column): Int = {
      val s = TxLogFormat.scan(spark, t, p)
      assert(rows(s.orderBy("o_orderkey")) ==
        rows(full.filter(p).orderBy("o_orderkey")), s"scan != filter for $p")
      s.inputFiles.length
    }
    // numeric range: only the covering batch's files survive
    assert(check(col("o_orderkey").between(300, 400)) < allFiles)
    // conjunction with an un-recorded string column still prunes on the key
    assert(check(col("o_orderkey") < 250 && col("o_orderpriority").isNotNull) < allFiles)
    // provably empty: no nulls recorded, out-of-range key → zero files read
    assert(check(col("o_orderkey").isNull) == 0)
    assert(check(col("o_orderkey") > 1000000) == 0)
    // string-only predicate: no stats, no pruning, correctness intact
    assert(check(col("o_orderpriority") > "m") == allFiles)
    // vacuum folds commits but carries stats — skipping survives
    TxLogFormat.vacuum(t)
    assert(check(col("o_orderkey").between(300, 400)) < allFiles)
  }

  test("readChanges: per-commit insert/delete rows; rewrites silent; " +
       "applying the feed reproduces any version") {
    val df = spark.createDataFrame(
      (1L to 40L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
    ).toDF("id", "par")
    val t = tmp()
    TxLogFormat.write(df.filter(col("id") <= 20), t, Some("par"))     // v0
    TxLogFormat.appendBatch(df.filter(col("id") > 20), t, "cdc", 1L,
      Some("par"))                                                    // v1
    TxLogFormat.compact(spark, t, "par")                              // v2: rewrite
    val keys = spark.createDataFrame(Seq(Tuple1(4L), Tuple1(7L))).toDF("k")
    TxLogFormat.deleteKeys(spark, t, "par", "id", keys)               // v3
    // appended rows surface as v1 inserts, nothing else in (0,1]
    val c1 = TxLogFormat.readChanges(spark, t, 0L, 1L).collect()
    assert(c1.forall(r => r.getAs[String]("_change_type") == "insert" &&
      r.getAs[Long]("_commit_version") == 1L))
    assert(c1.map(_.getAs[Long]("id")).sorted.toSeq == (21L to 40L))
    // the compact rewrite contributes NO changes
    assert(TxLogFormat.readChanges(spark, t, 1L, 2L).count() == 0)
    // replaying the whole feed over v0 reproduces the current table
    val changes = TxLogFormat.readChanges(spark, t, 0L).collect()
    val net = scala.collection.mutable.Map[Long, Int]().withDefaultValue(0)
    TxLogFormat.readVersion(spark, t, 0).collect()
      .foreach(r => net(r.getAs[Long]("id")) += 1)
    changes.foreach { r =>
      val d = if (r.getAs[String]("_change_type") == "insert") 1 else -1
      net(r.getAs[Long]("id")) += d
    }
    val want = TxLogFormat.read(spark, t).collect()
      .map(_.getAs[Long]("id")).groupBy(identity).view.mapValues(_.length)
    assert(net.filter(_._2 != 0).toMap == want.toMap)
    // ranges folded into a vacuum checkpoint refuse loudly
    TxLogFormat.vacuum(t, retainVersions = 1)
    val e = intercept[IllegalArgumentException](
      TxLogFormat.readChanges(spark, t, 0L))
    assert(e.getMessage.contains("checkpoint"))
  }

  test("metadata-only count matches a real count through every op") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val t = tmp()
    TxLogFormat.write(orders, t, Some("o_orderstatus"))
    assert(TxLogFormat.count(spark, t) == orders.count())
    TxLogFormat.appendBatch(orders.limit(100), t, "c", 1L, Some("o_orderstatus"))
    assert(TxLogFormat.count(spark, t) == orders.count() + 100)
    val keys = orders.limit(7).select(col("o_orderkey").as("k")).distinct()
    TxLogFormat.deleteKeys(spark, t, "o_orderstatus", "o_orderkey", keys)
    assert(TxLogFormat.count(spark, t) ==
      TxLogFormat.read(spark, t).count())
    TxLogFormat.compact(spark, t, "o_orderstatus")
    assert(TxLogFormat.count(spark, t) ==
      TxLogFormat.read(spark, t).count())
  }

  test("deletion vectors: DELETE WHERE moves no bytes; read/count/scan/CDF/" +
       "time-travel mask; purge rewrites only vector'd files") {
    import scala.jdk.CollectionConverters._
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val t = tmp()
    TxLogFormat.write(orders, t, Some("o_orderstatus"))               // v0
    def fp(): Map[String, (Long, Long)] = {
      val root = Paths.get(t)
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
        .map(f => root.relativize(f).toString ->
          (Files.size(f), Files.getLastModifiedTime(f).toMillis))
        .toMap
      finally s.close()
    }
    val before = fp()
    val cond = col("o_orderkey") % 7 === 0
    val n = TxLogFormat.deleteVectors(spark, t, cond)                 // v1
    assert(n == orders.filter(cond).count() && n > 0)
    // merge-on-read: not a data byte moved
    assert(fp() == before)
    val expect = orders.filter(col("o_orderkey") % 7 =!= 0)
    assert(rows(TxLogFormat.read(spark, t).orderBy("o_orderkey")) ==
      rows(expect.orderBy("o_orderkey")))
    // metadata count subtracts vector cardinalities — still no scan
    assert(TxLogFormat.count(spark, t) == expect.count())
    // data skipping composes with the mask
    assert(rows(TxLogFormat.scan(spark, t, col("o_orderkey") < 1000)
        .orderBy("o_orderkey")) ==
      rows(expect.filter(col("o_orderkey") < 1000).orderBy("o_orderkey")))
    // time travel: v0 still sees every row
    assert(TxLogFormat.readVersion(spark, t, 0).count() == orders.count())
    // re-marking the same rows is a no-op commit-free delete
    assert(TxLogFormat.deleteVectors(spark, t, cond) == 0L)
    // a second, overlapping delete marks only the genuinely new rows
    val n2 = TxLogFormat.deleteVectors(spark, t, col("o_orderkey") % 3 === 0)
    assert(n2 == orders.filter(col("o_orderkey") % 3 === 0 &&
      col("o_orderkey") % 7 =!= 0).count())
    // CDF: the first dv commit feeds exactly its deleted rows
    val ch = TxLogFormat.readChanges(spark, t, 0L, 1L)
    assert(ch.filter(col("_change_type") === "insert").count() == 0)
    assert(rows(ch.filter(col("_change_type") === "delete")
        .select("o_orderkey").orderBy("o_orderkey")) ==
      rows(orders.filter(cond).select("o_orderkey").orderBy("o_orderkey")))
    // purge rewrites ONLY the files carrying vectors
    val dvFiles = TxLogFormat.deletionVectors(t).keySet
    assert(dvFiles.nonEmpty)
    val rewritten = TxLogFormat.purgeDeletes(spark, t, Some("o_orderstatus"))
    assert(rewritten == dvFiles.size)
    assert(TxLogFormat.deletionVectors(t).isEmpty)
    val expect2 = orders.filter(col("o_orderkey") % 7 =!= 0 &&
      col("o_orderkey") % 3 =!= 0)
    assert(rows(TxLogFormat.read(spark, t).orderBy("o_orderkey")) ==
      rows(expect2.orderBy("o_orderkey")))
    assert(TxLogFormat.count(spark, t) == expect2.count())
    val after = fp()
    before.foreach { case (f, sig) =>
      if (!dvFiles.contains(f))
        assert(after.get(f).contains(sig), s"vector-free file $f rewritten")
    }
    // the purge is maintenance: CDF-silent
    val purgeV = TxLogFormat.versions(t).last
    assert(TxLogFormat.readChanges(spark, t, purgeV - 1, purgeV).count() == 0)
    // min-ratio heuristic: a sparse vector is not worth the rewrite
    val n3 = TxLogFormat.deleteVectors(spark, t, col("o_orderkey") === 2)
    assert(n3 == 1)
    assert(TxLogFormat.purgeDeletes(spark, t, Some("o_orderstatus"),
      minDvFraction = 0.5) == 0)
    assert(TxLogFormat.deletionVectors(t).values.sum == 1) // still pending
    assert(TxLogFormat.purgeDeletes(spark, t, Some("o_orderstatus")) >= 1)
    assert(TxLogFormat.deletionVectors(t).isEmpty)
  }

  test("deletion vectors: restore un-deletes; vacuum + sidecar folds and " +
       "clones carry vectors; racing rewrite refuses") {
    val base = spark.range(0, 100)
      .selectExpr("id", "CAST(id % 4 AS STRING) AS p", "id * 2 AS v")
    val t = tmp()
    TxLogFormat.write(base, t, Some("p"))                             // v0
    TxLogFormat.deleteVectors(spark, t, col("id") % 10 === 0)         // v1
    assert(TxLogFormat.read(spark, t).count() == 90)
    TxLogFormat.restore(t, 0L)                                        // v2
    // the un-delete: vector state rolled back with the data
    assert(TxLogFormat.read(spark, t).count() == 100)
    assert(TxLogFormat.deletionVectors(t).isEmpty)
    // CDF of the restore commit re-inserts exactly the un-deleted rows
    val ch = TxLogFormat.readChanges(spark, t, 1L, 2L)
    assert(ch.filter(col("_change_type") === "delete").count() == 0)
    assert(ch.filter(col("_change_type") === "insert")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 100L by 10L).toSeq)
    // forward again, then a vacuum horizon fold: the vector must survive
    TxLogFormat.deleteVectors(spark, t, col("id") < 5)                // v3
    TxLogFormat.vacuum(t, retainVersions = 1)
    assert(TxLogFormat.read(spark, t).count() == 95)
    assert(TxLogFormat.count(spark, t) == 95)
    // sidecar auto-checkpoint cadence: cross a boundary with the vector
    // outstanding, then delete the covered commits — resolution must keep
    // masking from the sidecar's absolute restatement
    val v0 = TxLogFormat.versions(t).head
    (1 to (TxLogFormat.checkpointInterval -
      (TxLogFormat.versions(t).last % TxLogFormat.checkpointInterval).toInt))
      .foreach(i => TxLogFormat.appendBatch(
        spark.range(1000 + i, 1001 + i)
          .selectExpr("id", "CAST(id % 4 AS STRING) AS p", "id * 2 AS v"),
        t, "dvs", i.toLong, Some("p")))
    import scala.jdk.CollectionConverters._
    val lg = Paths.get(t, "_txlog")
    val cps = Files.list(lg).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".checkpoint")).toSeq
    assert(cps.nonEmpty, "expected a sidecar checkpoint")
    val masked = rows(TxLogFormat.read(spark, t).orderBy("id"))
    TxLogFormat.versions(t).filter(v => v >= v0 &&
        v < cps.map(_.stripSuffix(".checkpoint").toLong).max)
      .foreach(v => Files.deleteIfExists(lg.resolve(f"$v%016d.commit")))
    assert(rows(TxLogFormat.read(spark, t).orderBy("id")) == masked)
    // clone: vectors carry; the two sides then diverge independently
    val c = tmp()
    TxLogFormat.cloneTable(t, c)
    assert(rows(TxLogFormat.read(spark, c).orderBy("id")) == masked)
    TxLogFormat.purgeDeletes(spark, t, Some("p"))
    TxLogFormat.vacuum(t, retainVersions = 1)
    assert(rows(TxLogFormat.read(spark, c).orderBy("id")) == masked)
    // delete-vs-rewrite conflict: a dv commit whose file a concurrent
    // rewrite replaced must refuse, not silently lose the delete
    val t2 = tmp()
    TxLogFormat.write(base, t2, Some("p"))
    val hold = new java.util.concurrent.atomic.AtomicBoolean(true)
    TxLogFormat.onCommitAttempt = p =>
      if (p == t2 && hold.getAndSet(false)) {
        // between address discovery and the dv commit's first attempt,
        // a compaction rewrites every file
        TxLogFormat.compact(spark, t2, "p")
      }
    try {
      val e = intercept[java.util.ConcurrentModificationException](
        TxLogFormat.deleteVectors(spark, t2, col("id") < 10))
      assert(e.getMessage.contains("rewritten"))
    } finally TxLogFormat.onCommitAttempt = _ => ()
    assert(TxLogFormat.read(spark, t2).count() == 100)
    // the OTHER direction: a rewrite whose staged content predates a
    // freshly-landed vector must refuse, not resurrect the deleted rows
    val t3 = tmp()
    TxLogFormat.write(base, t3, Some("p"))
    val hold3 = new java.util.concurrent.atomic.AtomicBoolean(true)
    TxLogFormat.onCommitAttempt = p =>
      if (p == t3 && hold3.getAndSet(false)) {
        TxLogFormat.deleteVectors(spark, t3, col("id") < 10)
      }
    try {
      val e = intercept[java.util.ConcurrentModificationException](
        TxLogFormat.compact(spark, t3, "p"))
      assert(e.getMessage.contains("deletion vector"))
    } finally TxLogFormat.onCommitAttempt = _ => ()
    // the delete survived; a clean rewrite then materializes it
    assert(TxLogFormat.read(spark, t3).count() == 90)
    TxLogFormat.compact(spark, t3, "p")
    assert(TxLogFormat.read(spark, t3).count() == 90 &&
      TxLogFormat.deletionVectors(t3).isEmpty)
  }

  test("racing rewrite refuses: a self-reading replace or " +
       "overwritePartitions does not resurrect a freshly-landed vector") {
    val base = spark.range(0, 100)
      .selectExpr("id", "CAST(id % 4 AS STRING) AS p", "id * 2 AS v")
    val ops: Seq[(String, String => Unit)] = Seq(
      "replace" -> (t => TxLogFormat.replace(spark,
        TxLogFormat.read(spark, t), t)),
      "overwritePartitions" -> (t => TxLogFormat.overwritePartitions(
        TxLogFormat.read(spark, t).filter(col("p") === "1"), t, "p")))
    ops.foreach { case (name, op) =>
      val t = tmp()
      TxLogFormat.write(base, t, Some("p"))
      // the plan has read and staged the table; the vector lands between
      // staging and the rewrite's first commit attempt
      val hold = new java.util.concurrent.atomic.AtomicBoolean(true)
      TxLogFormat.onCommitAttempt = p =>
        if (p == t && hold.getAndSet(false))
          TxLogFormat.deleteVectors(spark, t, col("id") < 10)
      try {
        val e = intercept[java.util.ConcurrentModificationException](op(t))
        assert(e.getMessage.contains("deletion vector"), s"$name: ${e.getMessage}")
      } finally TxLogFormat.onCommitAttempt = _ => ()
      assert(TxLogFormat.read(spark, t).count() == 90, name)
      assert(TxLogFormat.count(spark, t) == 90, name)
    }
  }

  test("every line kind resolves the same from a sidecar, a full replay, " +
       "a vacuum fold and a clone") {
    import scala.jdk.CollectionConverters._
    val t = tmp()
    val batch = (lo: Long, hi: Long) => spark.range(lo, hi).selectExpr("id",
      "CAST(id % 3 AS STRING) AS p", "id * 2 AS v", "CONCAT('u', id) AS who")
    TxLogFormat.write(batch(0, 30), t, Some("p"))                    // v0  a s f
    TxLogFormat.addConstraint(spark, t, "v_pos", "v >= 0")           // v1  c
    TxLogFormat.addConstraint(spark, t, "id_pos", "id >= 0")         // v2  c
    TxLogFormat.dropConstraint(t, "id_pos")                          // v3  cd
    TxLogFormat.addBloomIndex(t, "who")                              // v4  bi
    TxLogFormat.addBloomIndex(t, "v")                                // v5  bi
    TxLogFormat.dropBloomIndex(t, "v")                               // v6  bid
    assert(TxLogFormat.bloomIndexes(t).keySet == Set("who"))
    intercept[IllegalArgumentException](TxLogFormat.dropBloomIndex(t, "v"))
    TxLogFormat.appendBatch(batch(30, 40), t, "app", 0L, Some("p"))  // v7  t f fb
    TxLogFormat.deleteVectors(spark, t, col("id") < 5)               // v8  dv
    TxLogFormat.restore(t, 7L)                                       // v9  dvx
    TxLogFormat.deleteVectors(spark, t, col("id") % 10 === 3)        // v10 dv
    TxLogFormat.appendBatch(batch(40, 45), t, "app", 1L, Some("p"))  // v11
    TxLogFormat.deleteVectors(spark, t, col("id") === 41)            // v12
    val lg = Paths.get(t, "_txlog")
    def sidecars() = Files.list(lg).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".checkpoint")).toSeq
    assert(sidecars() == Seq(f"${10L}%016d.checkpoint"))
    def resolve(path: String) = (
      TxLogFormat.constraints(path), TxLogFormat.bloomIndexes(path),
      TxLogFormat.deletionVectors(path), TxLogFormat.lastCommitEpoch(path),
      TxLogFormat.count(spark, path),
      rows(TxLogFormat.read(spark, path).orderBy("id")),
      rows(TxLogFormat.scan(spark, path, col("who") === "u31")))
    val want = resolve(t)
    assert(want._1 == Map("v_pos" -> "v >= 0"))
    assert(want._2.keySet == Set("who"))
    assert(want._3.values.sum == 5)        // 3, 13, 23, 33 and 41
    assert(want._5 == 40 && want._6.size == 40 && want._7.size == 1)
    val txns = Set("app:0", "app:1")
    assert(TxLogFormat.committedTxns(t) == txns)
    val c = tmp()
    TxLogFormat.cloneTable(t, c)
    assert(resolve(c) == want, "clone")
    assert(TxLogFormat.committedTxns(c).isEmpty) // a clone is a new sink
    sidecars().foreach(f => Files.delete(lg.resolve(f)))
    assert(resolve(t) == want, "full replay")
    assert(TxLogFormat.committedTxns(t) == txns)
    TxLogFormat.vacuum(t, retainVersions = 1)
    assert(TxLogFormat.versions(t) == Seq(12L))
    assert(resolve(t) == want, "vacuum fold")
    assert(TxLogFormat.committedTxns(t) == txns)
    assert(resolve(c) == want, "clone after the source's vacuum")
  }

  test("count: a file with a bloom filter but no numeric stats falls back " +
       "to a real count") {
    // string-only rows record no `f` line (no row count); once an index
    // is declared, a rewrite records an `fb` line for every file
    val t = tmp()
    TxLogFormat.write(spark.range(0, 7).selectExpr("CAST(id AS STRING) AS k"), t)
    TxLogFormat.addBloomIndex(t, "k")
    TxLogFormat.replace(spark, TxLogFormat.read(spark, t), t)
    assert(TxLogFormat.count(spark, t) == 7)
  }

  test("deleteVectorsBatch: tagged deletes skip on replay; overlapping " +
       "batches mark only new rows") {
    val base = spark.range(0, 20)
      .selectExpr("id", "CAST(id % 2 AS STRING) AS p")
    val t = tmp()
    TxLogFormat.write(base, t, Some("p"))
    assert(TxLogFormat.deleteVectorsBatch(spark, t,
      col("id").isin(1L, 2L), "ret", 0L) == Some(2L))
    // overlap: id 2 is already masked, only 3 is new
    assert(TxLogFormat.deleteVectorsBatch(spark, t,
      col("id").isin(2L, 3L), "ret", 1L) == Some(1L))
    assert(TxLogFormat.count(spark, t) == 17)
    val versions = TxLogFormat.versions(t)
    // replay of batch 0: tag skips, nothing commits
    assert(TxLogFormat.deleteVectorsBatch(spark, t,
      col("id").isin(1L, 2L), "ret", 0L).isEmpty)
    assert(TxLogFormat.versions(t) == versions)
    assert(TxLogFormat.count(spark, t) == 17)
    // the tags survive a vacuum fold, like append tags
    TxLogFormat.vacuum(t, retainVersions = 1)
    assert(TxLogFormat.deleteVectorsBatch(spark, t,
      col("id").isin(1L, 2L), "ret", 0L).isEmpty)
    // tagged merge: same replay contract for upserts
    val up = spark.range(100, 103).selectExpr("id", "CAST(0 AS STRING) AS p")
    assert(TxLogFormat.mergeBatch(spark, t, "id", up, "ret", 2L,
      Some("p")).nonEmpty)
    val n = TxLogFormat.count(spark, t)
    assert(TxLogFormat.mergeBatch(spark, t, "id", up, "ret", 2L,
      Some("p")).isEmpty)
    assert(TxLogFormat.count(spark, t) == n)
  }

  test("maintain: purge/compact/vacuum fire only on their triggers; " +
       "content never changes") {
    val t = tmp()
    val one = (i: Int) => spark.range(i * 10, (i + 1) * 10)
      .selectExpr("id", "CAST(id % 2 AS STRING) AS p")
    TxLogFormat.write(one(0), t, Some("p"))
    (1 until 12).foreach(i =>
      assert(TxLogFormat.appendBatch(one(i), t, "mnt", i.toLong, Some("p"))))
    TxLogFormat.deleteVectors(spark, t, col("id") % 10 === 3)
    val want = rows(TxLogFormat.read(spark, t).orderBy("id"))
    // healthy thresholds: nothing fires except vacuum's fold
    val r1 = TxLogFormat.maintain(spark, t, "p",
      maxDvRows = 1000, maxFilesPerPartition = 100, retainVersions = 1000)
    assert(r1("files_purged") == 0 && r1("partitions_compacted") == 0)
    assert(rows(TxLogFormat.read(spark, t).orderBy("id")) == want)
    // tight thresholds: everything fires
    val r2 = TxLogFormat.maintain(spark, t, "p",
      maxDvRows = 0, maxFilesPerPartition = 4, retainVersions = 1)
    assert(r2("files_purged") > 0 && r2("partitions_compacted") == 2 &&
      r2("files_vacuumed") > 0)
    assert(TxLogFormat.deletionVectors(t).isEmpty)
    val byDir = TxLogFormat.read(spark, t).inputFiles
      .groupBy(f => f.split("/").dropRight(1).last)
    assert(byDir.values.forall(_.size <= 4), byDir.view.mapValues(_.size).toMap)
    assert(rows(TxLogFormat.read(spark, t).orderBy("id")) == want)
    // already healthy: a second pass is a no-op beyond the vacuum fold
    val vs = TxLogFormat.versions(t)
    val r3 = TxLogFormat.maintain(spark, t, "p",
      maxDvRows = 0, maxFilesPerPartition = 4, retainVersions = 1)
    assert(r3("files_purged") == 0 && r3("partitions_compacted") == 0)
    assert(TxLogFormat.versions(t) == vs)
  }

  test("vacuumPreview lists exactly what vacuum then reclaims, touching " +
       "nothing") {
    val t = tmp()
    val base = spark.range(0, 20).selectExpr("id", "CAST(id % 2 AS STRING) AS p")
    TxLogFormat.write(base, t, Some("p"))                            // v0
    TxLogFormat.replace(spark,
      TxLogFormat.read(spark, t).filter(col("id") < 10), t)          // v1
    val preview = TxLogFormat.vacuumPreview(t, retainVersions = 1)
    assert(preview.nonEmpty) // v0's files are unreachable at retain=1
    val before = rows(TxLogFormat.read(spark, t).orderBy("id"))
    // the preview is a pure read: both versions still resolve
    assert(TxLogFormat.versions(t) == Seq(0L, 1L))
    assert(TxLogFormat.readVersion(spark, t, 0).count() == 20)
    // and the real vacuum deletes exactly the previewed set
    assert(TxLogFormat.vacuum(t, retainVersions = 1) == preview.size)
    assert(preview.forall(r =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(t, r))))
    assert(rows(TxLogFormat.read(spark, t).orderBy("id")) == before)
    // nothing left to reclaim
    assert(TxLogFormat.vacuumPreview(t, retainVersions = 1).isEmpty)
  }

  test("describeHistory audits operation/txn/dv per commit; " +
       "time-based vacuum keeps the recent window") {
    val t = tmp()
    val base = spark.range(0, 20).selectExpr("id", "CAST(id % 2 AS STRING) AS p")
    TxLogFormat.write(base, t, Some("p"))                           // v0
    TxLogFormat.appendBatch(spark.range(20, 25)
      .selectExpr("id", "CAST(id % 2 AS STRING) AS p"), t, "h", 1L,
      Some("p"))                                                    // v1
    TxLogFormat.deleteVectors(spark, t, col("id") < 3)              // v2
    TxLogFormat.compact(spark, t, "p")                              // v3
    val h = TxLogFormat.describeHistory(t)
    assert(h.map(_.version) == Seq(3L, 2L, 1L, 0L)) // newest first
    assert(h.find(_.version == 3).exists(_.operation == "rewrite"))
    assert(h.find(_.version == 2).exists(c =>
      c.operation == "write" && c.dvRows == 3 && c.adds == 0))
    assert(h.find(_.version == 1).exists(_.txnTag.contains("h:1")))
    assert(h.forall(_.timestamp > 0))
    // TIMESTAMP AS OF: a stamp at/after the latest commit resolves the
    // current snapshot; one before the first retained commit refuses
    val now = java.time.Instant.now().getEpochSecond + 10
    assert(rows(TxLogFormat.readTimestamp(spark, t, now).orderBy("id")) ==
      rows(TxLogFormat.read(spark, t).orderBy("id")))
    val e0 = intercept[IllegalArgumentException](
      TxLogFormat.readTimestamp(spark, t, h.last.timestamp - 1000))
    assert(e0.getMessage.contains("before"))
    // everything is recent → time-based vacuum keeps all versions
    TxLogFormat.vacuumRetainHours(t, hours = 1.0)
    assert(TxLogFormat.versions(t) == Seq(0L, 1L, 2L, 3L))
    // zero-hour retention folds to the latest only; content unchanged
    val want = rows(TxLogFormat.read(spark, t).orderBy("id"))
    TxLogFormat.vacuumRetainHours(t, hours = 0.0)
    assert(TxLogFormat.versions(t).size == 1)
    assert(rows(TxLogFormat.read(spark, t).orderBy("id")) == want)
  }

  test("restore rolls back to an old version as a NEW commit, no copy") {
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val t = tmp()
    TxLogFormat.write(orders, t)                                      // v0
    val v0 = rows(TxLogFormat.read(spark, t).orderBy("o_orderkey"))
    TxLogFormat.replace(spark,
      TxLogFormat.read(spark, t).filter(col("o_orderkey") % 2 === 0), t) // v1
    val v1 = rows(TxLogFormat.read(spark, t).orderBy("o_orderkey"))
    val files1 = TxLogFormat.read(spark, t).inputFiles.toSet
    assert(TxLogFormat.restore(t, 0L) == 2L)                          // v2
    assert(rows(TxLogFormat.read(spark, t).orderBy("o_orderkey")) == v0)
    // no data moved: history append-only, the mistake still auditable
    assert(TxLogFormat.versions(t) == Seq(0L, 1L, 2L))
    assert(rows(TxLogFormat.readVersion(spark, t, 1).orderBy("o_orderkey")) == v1)
    // restoring the restore: back to the bad version, again as a commit
    assert(TxLogFormat.restore(t, 1L) == 3L)
    assert(rows(TxLogFormat.read(spark, t).orderBy("o_orderkey")) == v1)
    assert(TxLogFormat.read(spark, t).inputFiles.toSet == files1)
    // a vacuumed-away version refuses
    TxLogFormat.vacuum(t, retainVersions = 1)
    val e = intercept[IllegalArgumentException](TxLogFormat.restore(t, 0L))
    assert(e.getMessage.contains("not available"))
  }

  test("processChanges: cursor advances after f; crash replays; " +
       "appendBatch downstream lands exactly once") {
    val df = spark.createDataFrame((1L to 30L).map(i => (i, i % 3)))
      .toDF("id", "m")
    val src = tmp(); val dst = tmp(); val cur = tmp()
    TxLogFormat.write(df.filter(col("id") <= 10), src)               // v0
    // consumer: append the feed's inserts downstream, keyed by `until`
    def consume(): Option[(Long, Long)] =
      TxLogFormat.processChanges(spark, src, cur) { (changes, _, until) =>
        TxLogFormat.appendBatch(
          changes.filter(col("_change_type") === "insert")
            .drop("_change_type", "_commit_version"),
          dst, "consumer", until)
      }
    assert(consume() == Some((-1L, 0L)))
    assert(consume() == None) // caught up
    TxLogFormat.appendBatch(df.filter(col("id") > 10), src, "up", 1L) // v1
    // a crashing consumer leaves the cursor unmoved...
    intercept[RuntimeException](
      TxLogFormat.processChanges(spark, src, cur) { (_, _, _) =>
        throw new RuntimeException("boom") })
    // ...so the retry reprocesses the SAME range; the downstream
    // appendBatch tag makes the landing exactly-once anyway
    assert(consume() == Some((0L, 1L)))
    assert(consume() == None)
    assert(TxLogFormat.read(spark, dst).count() == 30L)
    assert(rows(TxLogFormat.read(spark, dst).orderBy("id")) ==
      rows(df.orderBy("id")))
  }

  test("processChanges after a vacuum fold: refuses by default, " +
       "full resync rebuilds from the checkpoint snapshot") {
    val df = spark.range(1, 21).toDF("id")
    val src = tmp(); val cur = tmp()
    TxLogFormat.write(df.filter(col("id") <= 10), src)                // v0
    TxLogFormat.appendBatch(df.filter(col("id") > 10 && col("id") <= 15),
      src, "u", 1L)                                                   // v1
    assert(TxLogFormat.processChanges(spark, src, cur) {
      (c, _, _) => c.count() } == Some((-1L, 1L)))
    // the consumer lags while an append + aggressive vacuum land
    TxLogFormat.appendBatch(df.filter(col("id") > 15), src, "u", 2L)  // v2
    TxLogFormat.vacuum(src, retainVersions = 1) // folds v0..v2 at the v2 slot
    val e = intercept[IllegalArgumentException](
      TxLogFormat.processChanges(spark, src, cur) { (_, _, _) => () })
    assert(e.getMessage.contains("allowFullResync"))
    // resync: the feed is the checkpoint snapshot as a base rebuild
    var seen = -1L
    assert(TxLogFormat.processChanges(spark, src, cur,
      allowFullResync = true) { (c, _, _) =>
        assert(c.collect().forall(_.getAs[String]("_change_type") == "insert"))
        seen = c.count()
      } == Some((1L, 2L)))
    assert(seen == 20L)
    assert(TxLogFormat.processChanges(spark, src, cur) {
      (_, _, _) => () } == None)
  }

  test("concurrent schema-evolving appends: the CAS loser re-merges, " +
       "both new columns survive") {
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val t = tmp()
    TxLogFormat.write(orders, t)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = Seq("o_left", "o_right").map { c =>
      Future {
        TxLogFormat.appendBatch(
          orders.limit(5).withColumn(c, lit(1L)), t, "race", c.hashCode.toLong)
      }
    }
    Await.result(Future.sequence(fs), 120.seconds)
    // whichever writer lost the version race must have re-merged against
    // the winner's schema: both evolved columns are readable
    assert(TxLogFormat.read(spark, t).columns.toSet ==
      Set("o_orderkey", "o_totalprice", "o_left", "o_right"))
  }

  test("scan keeps NaN-bearing double files (NaN orders above all); " +
       "appendBatch refuses a layout mismatch") {
    // parquet drops min/max for NaN-holding chunks; Spark orders NaN
    // ABOVE every double, so x > 100 matches the NaN row — the stats
    // reader must not mistake the stat-less chunk for all-null and prune
    val df = spark.createDataFrame(
      Seq((1L, 1.0), (2L, Double.NaN), (3L, 2.0))).toDF("id", "x")
    val t = tmp()
    TxLogFormat.write(df.coalesce(1), t)
    val got = TxLogFormat.scan(spark, t, col("x") > 100.0)
    assert(got.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // flat append into a partitioned table would break partition discovery
    val t2 = tmp()
    TxLogFormat.write(df.withColumn("p", lit("a")), t2, Some("p"))
    val e = intercept[IllegalArgumentException](
      TxLogFormat.appendBatch(df.withColumn("p", lit("b")), t2, "x", 1L))
    assert(e.getMessage.contains("layout"))
    // and the matching direction: partitioned append into a flat table
    val e2 = intercept[IllegalArgumentException](
      TxLogFormat.appendBatch(df, t, "x", 1L, Some("id")))
    assert(e2.getMessage.contains("layout"))
  }

  test("partial-rewrite ops refuse a table made unpartitioned by replace") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val t = tmp()
    TxLogFormat.write(orders, t, Some("o_orderstatus"))
    // replace with no partitioning lands root-level files
    TxLogFormat.replace(spark, orders, t)
    val keys = spark.range(1).select(col("id").as("o_orderkey"))
    for ((op, run) <- Seq[(String, () => Any)](
      "overwritePartitions" -> (() =>
        TxLogFormat.overwritePartitions(orders.limit(1), t, "o_orderstatus")),
      "compact" -> (() => TxLogFormat.compact(spark, t, "o_orderstatus")),
      "deleteKeys" -> (() =>
        TxLogFormat.deleteKeys(spark, t, "o_orderstatus", "o_orderkey", keys)))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(op), s"$op: ${e.getMessage}")
    }
    // the guard itself committed nothing: still v0 (write) + v1 (replace)
    assert(TxLogFormat.versions(t) == Seq(0L, 1L))
  }

  test("CHECK constraints: enforced inside every write path, survive vacuum") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val t = tmp()
    TxLogFormat.write(orders, t, Some("o_orderstatus"))
    // a constraint existing rows violate must refuse to declare
    intercept[IllegalArgumentException] {
      TxLogFormat.addConstraint(spark, t, "huge", "o_totalprice > 1e9")
    }
    TxLogFormat.addConstraint(spark, t, "price_pos", "o_totalprice > 0")
    TxLogFormat.addConstraint(spark, t, "key_nn", "o_orderkey IS NOT NULL")
    assert(TxLogFormat.constraints(t).keySet == Set("price_pos", "key_nn"))
    val vBefore = TxLogFormat.versions(t).last
    val n0 = TxLogFormat.read(spark, t).count()
    // violating append aborts inside the write job; nothing becomes visible
    val bad = orders.limit(5).withColumn("o_totalprice", lit(-1.0))
    intercept[Exception] {
      TxLogFormat.appendBatch(bad, t, "capp", 1L, Some("o_orderstatus"))
    }
    assert(TxLogFormat.versions(t).last == vBefore, "failed write must not commit")
    assert(TxLogFormat.read(spark, t).count() == n0)
    // valid append lands; NULL passes CHECK (SQL semantics)
    TxLogFormat.appendBatch(
      orders.limit(3).withColumn("o_totalprice", lit(null).cast("double")),
      t, "capp", 2L, Some("o_orderstatus"))
    assert(TxLogFormat.read(spark, t).count() == n0 + 3)
    // but IS NOT NULL expresses dbt's not_null contract and does refuse
    intercept[Exception] {
      TxLogFormat.appendBatch(
        orders.limit(2).withColumn("o_orderkey", lit(null).cast("bigint")),
        t, "capp", 3L, Some("o_orderstatus"))
    }
    // merge with a violating source refuses too
    intercept[Exception] {
      TxLogFormat.merge(spark, t, "o_orderkey",
        orders.limit(2).withColumn("o_totalprice", lit(-5.0)),
        Some("o_orderstatus"))
    }
    // the declarations survive a vacuum checkpoint fold
    TxLogFormat.vacuum(t, retainVersions = 1)
    assert(TxLogFormat.constraints(t).keySet == Set("price_pos", "key_nn"))
    intercept[Exception] {
      TxLogFormat.appendBatch(bad, t, "capp", 4L, Some("o_orderstatus"))
    }
    // dropConstraint re-arms the path
    TxLogFormat.dropConstraint(t, "price_pos")
    TxLogFormat.appendBatch(
      orders.limit(2).withColumn("o_totalprice", lit(-1.0)),
      t, "capp", 5L, Some("o_orderstatus"))
    assert(TxLogFormat.read(spark, t).filter(col("o_totalprice") < 0).count() == 2)
  }

  test("bloom index: string-equality scan prunes files the filter proves " +
       "absent; always equals read+filter; survives vacuum and clone") {
    val t = tmp()
    // 4 files, disjoint key ranges, distinctive string values per file
    val df = spark.range(0, 400).selectExpr("id AS k",
      "concat('user_', CAST(id AS STRING)) AS who")
    TxLogFormat.write(df.repartition(1), t) // v0: pre-index file (no bloom)
    TxLogFormat.addBloomIndex(t, "who")     // v1: declaration
    (1 to 3).foreach { b =>
      TxLogFormat.appendBatch(
        spark.range(b * 400L, b * 400L + 400)
          .selectExpr("id AS k", "concat('user_', CAST(id AS STRING)) AS who")
          .repartition(1), t, "bl", b.toLong)
    }
    def filesRead(target: String): Int = {
      val got = TxLogFormat.scan(spark, t, col("who") === target)
      got.inputFiles.length
    }
    // a value in an indexed file: exactly that file + the pre-index file
    // (no filter recorded → conservatively kept) are read
    assert(filesRead("user_450") <= 2, s"read ${filesRead("user_450")} files")
    // a value that exists nowhere: only the un-indexed file survives
    assert(filesRead("user_99999") <= 1)
    // correctness: always equals read+filter
    assert(rows(TxLogFormat.scan(spark, t, col("who") === "user_450")) ==
      rows(TxLogFormat.read(spark, t).filter(col("who") === "user_450")))
    assert(TxLogFormat.scan(spark, t, col("who") === "user_99999").count() == 0)
    // IN-list pruning: all-absent prunes, any-present keeps
    assert(rows(TxLogFormat.scan(spark, t,
        col("who").isin("user_450", "user_451")).orderBy("k")) ==
      rows(TxLogFormat.read(spark, t)
        .filter(col("who").isin("user_450", "user_451")).orderBy("k")))
    // declarations + filters survive a vacuum checkpoint fold
    TxLogFormat.replace(spark, TxLogFormat.read(spark, t), t) // all re-indexed
    TxLogFormat.vacuum(t, retainVersions = 1)
    assert(TxLogFormat.bloomIndexes(t).contains("who"))
    assert(rows(TxLogFormat.scan(spark, t, col("who") === "user_450")) ==
      rows(TxLogFormat.read(spark, t).filter(col("who") === "user_450")))
    // and a clone carries both the declaration and the per-file filters
    val c = tmp()
    TxLogFormat.cloneTable(t, c)
    assert(TxLogFormat.bloomIndexes(c).contains("who"))
    assert(rows(TxLogFormat.scan(spark, c, col("who") === "user_450")) ==
      rows(TxLogFormat.read(spark, c).filter(col("who") === "user_450")))
  }

  test("addConstraint racing a writer: the writer's commit refuses when a " +
       "constraint was declared after its guard was built") {
    // r7 advice: a writer guards rows with the constraint set folded at
    // plan time; addConstraint validates existing rows and commits in the
    // staging window; without a conflict check the writer's (unguarded)
    // violating rows land in a version AFTER the declaration — exactly
    // what the validation scan exists to prevent. The seam injects the
    // declaration deterministically at the writer's first commit attempt.
    val t = tmp()
    TxLogFormat.write(spark.range(5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"), t)
    var fired = false
    TxLogFormat.onCommitAttempt = { p =>
      if (!fired && p == t) {
        fired = true // clear first: addConstraint commits through the seam
        TxLogFormat.addConstraint(spark, t, "v_small", "v < 100")
      }
    }
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        // violates v_small — the guard folded BEFORE the declaration
        TxLogFormat.appendBatch(
          spark.range(1).selectExpr("id + 7 AS k", "CAST(500.0 AS DOUBLE) AS v"), t, "app", 0L)
      }
      assert(e.getMessage.contains("v_small"), e.getMessage)
    } finally TxLogFormat.onCommitAttempt = _ => ()
    // nothing landed, the declaration survives, and a retried write now
    // enforces it (violation throws from inside the job, not the commit)
    assert(TxLogFormat.read(spark, t).count() == 5)
    assert(TxLogFormat.constraints(t).contains("v_small"))
    val e2 = intercept[Exception] {
      TxLogFormat.appendBatch(
        spark.range(1).selectExpr("id + 7 AS k", "CAST(500.0 AS DOUBLE) AS v"), t, "app", 0L)
    }
    assert(e2.getMessage != null)
    assert(TxLogFormat.appendBatch(
      spark.range(1).selectExpr("id + 7 AS k", "CAST(50.0 AS DOUBLE) AS v"), t, "app", 1L))
    assert(TxLogFormat.read(spark, t).count() == 6)
  }

  test("cloneTable: zero-copy, version-pinned, immune to source vacuum") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val t = tmp(); val c = tmp()
    TxLogFormat.write(orders.filter(col("o_orderkey") % 2 === 0), t,
      Some("o_orderstatus"))                                            // v0
    TxLogFormat.addConstraint(spark, t, "price_pos", "o_totalprice > 0") // v1
    TxLogFormat.appendBatch(orders.filter(col("o_orderkey") % 2 === 1), t,
      "cl", 1L, Some("o_orderstatus"))                                   // v2
    val expected = rows(TxLogFormat.read(spark, t).orderBy("o_orderkey"))
    assert(TxLogFormat.cloneTable(t, c) == 0L)
    assert(rows(TxLogFormat.read(spark, c).orderBy("o_orderkey")) == expected)
    // zero-copy: the clone's files are the SAME inodes (hard links)
    val sAll = Files.walk(Paths.get(c))
    val oneRel = try {
      import scala.jdk.CollectionConverters._
      sAll.iterator.asScala
        .find(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
        .map(Paths.get(c).relativize(_).toString).get
    } finally sAll.close()
    assert(Files.isSameFile(Paths.get(c, oneRel), Paths.get(t, oneRel)),
      "clone must hard-link, not copy")
    // constraints + skipping stats + metadata count all carried
    assert(TxLogFormat.constraints(c).keySet == Set("price_pos"))
    assert(TxLogFormat.count(spark, c) == expected.size)
    // version-pinned clone reproduces v0 exactly
    val c0 = tmp()
    TxLogFormat.cloneTable(t, c0, version = 0L)
    assert(rows(TxLogFormat.read(spark, c0).orderBy("o_orderkey")) ==
      rows(orders.filter(col("o_orderkey") % 2 === 0).orderBy("o_orderkey")))
    // source rewrite + vacuum reclaims ALL its pre-replace names — the
    // clone keeps reading: link refcounts make the tables independent
    TxLogFormat.replace(spark,
      TxLogFormat.read(spark, t).filter(col("o_orderkey") % 4 === 0), t)
    TxLogFormat.vacuum(t, retainVersions = 1)
    assert(rows(TxLogFormat.read(spark, c).orderBy("o_orderkey")) == expected)
    // refusals: occupied target; vacuumed-away version
    intercept[IllegalArgumentException] { TxLogFormat.cloneTable(t, c) }
    intercept[IllegalArgumentException] {
      TxLogFormat.cloneTable(t, tmp(), version = 0L)
    }
  }

  test("metadata freshness: last commit is the load event, no scan") {
    val t = tmp()
    TxLogFormat.write(Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice"), t)
    val loaded = TxLogFormat.lastCommitEpoch(t)
    val fresh = graft.operators.Freshness.tableFreshness(t, loaded + 3600)
    assert(fresh == ((loaded, 1L, "ok")), fresh.toString)
    assert(graft.operators.Freshness
      .tableFreshness(t, loaded + 30 * 3600)._3 == "warn")
    assert(graft.operators.Freshness
      .tableFreshness(t, loaded + 80 * 3600)._3 == "error")
    // a new commit refreshes the load time
    TxLogFormat.appendBatch(Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice").limit(1), t, "fr", 1L)
    val loaded2 = TxLogFormat.lastCommitEpoch(t)
    assert(loaded2 >= loaded)
    // vacuum rewrites the horizon commit IN PLACE — the load stamp rides
    // the commit content (`w` line), so a no-new-data vacuum must NOT
    // reset freshness to "just loaded" (r7 advice: mtime did exactly that)
    Thread.sleep(1500)
    TxLogFormat.vacuum(t, retainVersions = 1)
    assert(TxLogFormat.lastCommitEpoch(t) == loaded2,
      s"vacuum moved the load time: $loaded2 -> ${TxLogFormat.lastCommitEpoch(t)}")
  }

  test("file-count scale: snapshot + stats pruning over a 12k-file log " +
       "stay driver-cheap and prune exactly (fakes never touch the reader)") {
    import org.apache.spark.sql.functions.col
    val t = tmp()
    // two REAL files with ids 0..99
    TxLogFormat.write(Tables.orders(spark, sf).limit(100)
      .select((col("o_orderkey") % 100).as("id")).repartition(2), t)
    // + one synthetic commit adding 12,000 fictive files whose recorded id
    // stats sit far above the probe predicate. If pruning ever consulted
    // less than ALL the stats — or held them wrong — the reader would try
    // to open a file that does not exist and the scan would throw: the
    // assertion below is existence-hard, not statistical.
    val n = 12000
    val lines = (0 until n).flatMap { i =>
      val rel = f"fake/part-$i%05d.parquet"
      val lo = 1000000L + i * 10L
      Seq(s"a $rel", s"f $rel\t5\tid\t$lo\t${lo + 9}\t0")
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_txlog", f"${1L}%016d.commit"),
      lines.mkString("\n").getBytes("UTF-8"))
    // warm nothing: time the FULL driver-side resolution (log fold of
    // 24k lines + stats map + per-file predicate pruning) plus the read
    // of the two surviving real files
    val t0 = System.nanoTime()
    val got = TxLogFormat.scan(spark, t, col("id") < 100).count()
    val firstSec = (System.nanoTime() - t0) / 1e9
    assert(got == 100, s"scan returned $got rows")
    // metadata-only count must also stay correct (sums 12k fake stats)
    assert(TxLogFormat.count(spark, t) == 100L + 5L * n)
    // the scale assertion: a 12k-file table resolves in SECONDS on the
    // driver, not minutes — the bound catches accidental O(files²) folds
    // while surviving a contended CI box (this repo's own bench history
    // records 10-50x wall inflation under driver-machine load, so a tight
    // wall bound here would flake exactly when the machine is busy;
    // idle-box measurements are ~1.5 s cold / ~0.5 s warm)
    assert(firstSec < 60.0, f"cold 12k-file scan took $firstSec%.1f s")
    val t1 = System.nanoTime()
    TxLogFormat.scan(spark, t, col("id") < 100).count()
    val secondSec = (System.nanoTime() - t1) / 1e9
    assert(secondSec < 15.0, f"warm 12k-file scan took $secondSec%.1f s")
    // threshold crossing: force the DISTRIBUTED stats prune (executors
    // evaluate the same mayMatch over shipped (rel, stat) pairs) and
    // assert it keeps exactly the files the driver-side fold kept — the
    // same existence-hard guarantee: keeping one extra fake file would
    // throw on open, dropping a real one would change the count. Both
    // a range predicate and a compound one cross the wire.
    try {
      spark.conf.set(TxLogFormat.DistributedPruneThresholdKey, "100") // 12k files >> 100
      assert(TxLogFormat.scan(spark, t, col("id") < 100).count() == 100)
      assert(TxLogFormat.scan(spark, t,
        col("id") >= 10 && col("id") < 20).count() == 10)
      // a predicate matching some FAKE stats must still throw on open —
      // proving the distributed path really consulted the stats and kept
      // the (nonexistent) file rather than pruning everything unknown
      intercept[Exception] {
        TxLogFormat.scan(spark, t, col("id") >= 1000000L).count()
      }
    } finally spark.conf.unset(TxLogFormat.DistributedPruneThresholdKey)
  }

  test("Pipeline drop-in parity: same DAG, same results as ParquetDirFormat") {
    val orders = Tables.orders(spark, sf)
    def mk(fmt: graft.sources.TableFormat) = new Pipeline(Seq(
      Model("f_table", Seq("orders"), TableMat(Some("o_orderstatus"), Seq("o_orderkey")),
        in => in("orders").select("o_orderkey", "o_orderstatus", "o_totalprice")),
      Model("f_io", Seq("orders"), InsertOverwriteMat("o_orderstatus"),
        in => in("orders").select("o_orderkey", "o_orderstatus")),
      Model("f_inc", Seq("orders"), IncrementalMat("o_orderkey"),
        in => in("orders").select("o_orderkey", "o_totalprice")),
      Model("f_mb", Seq("orders"), MicrobatchMat("o_orderdate"),
        in => in("orders").select("o_orderkey", "o_orderdate"))),
      format = fmt)
    val txOut = mk(TxLogFormat).run(spark, Map("orders" -> orders), tmp())
    val refOut = mk(ParquetDirFormat).run(spark, Map("orders" -> orders), tmp())
    Seq("f_table", "f_io", "f_inc", "f_mb").foreach { n =>
      // align columns by name: the dir format's read appends partition
      // columns last, TxLog restores the writer's order
      val cols = refOut(n).columns.sorted.toSeq.map(col)
      assert(rows(txOut(n).select(cols: _*).orderBy("o_orderkey")) ==
        rows(refOut(n).select(cols: _*).orderBy("o_orderkey")),
        s"model $n diverged")
    }
  }

  test("WARC source (r14): plain == per-record-gzip parse, HTTP layer " +
       "recovered, truncated/malformed input is prefix-honest") {
    import spark.implicits._
    import graft.sources.Warc
    val body = "hello warc world".getBytes("UTF-8")
    val plain = Warc.syntheticWarc("https://x/1", "2024-01-01T00:00:00Z", body)
    val gz = Warc.syntheticWarc("https://x/1", "2024-01-01T00:00:00Z", body,
      gzipped = true)
    def parsed(p: Array[Byte]) = Warc.parseWarc(p)
      .map { case (t, u, d, s, m, b, _, _) =>
        (t, u, d, s, m, new String(b, "UTF-8")) }
    // the gzip path inflates multi-member streams to the SAME records
    assert(parsed(plain) == parsed(gz))
    val recs = parsed(plain)
    assert(recs.map(_._1) == Vector("warcinfo", "request", "response"))
    val resp = recs(2)
    assert(resp._2 == "https://x/1" && resp._4 == 200 &&
      resp._5 == "text/plain" && resp._6 == "hello warc world")
    assert(recs(0)._4 == 0 && recs(1)._4 == 0,
      "non-response records carry no HTTP status")
    // prefix honesty: truncating inside the LAST record's block keeps
    // the earlier records and drops the broken one — never fabricates
    val cut = java.util.Arrays.copyOfRange(plain, 0, plain.length - body.length)
    assert(parsed(cut).map(_._1) == Vector("warcinfo", "request"))
    // garbage refuses entirely (bad magic / bad gzip)
    assert(Warc.parseWarc("not a warc".getBytes("UTF-8")).isEmpty)
    assert(Warc.parseWarc(Array[Byte](0x1f, 0x8b.toByte, 0, 0)).isEmpty)
    // a response whose block is NOT an http message keeps status 0 and
    // the raw block as body
    val raw = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n" +
      "Content-Length: 3\r\n\r\nxyz\r\n\r\n").getBytes("ISO-8859-1")
    val nr = parsed(raw)
    assert(nr == Vector(("response", "u", "", 0, "", "xyz")), nr.toString)
    assert(!Warc.parseWarc(raw).head._7,
      "a non-HTTP response block is flagged undecoded")
    // the DataFrame reader keys records by payload and file order
    val df = Warc.readWarc(Seq((7L, gz)).toDF("doc_id", "payload"))
      .select("doc_id", "rec_idx", "warc_type").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(df == Set((7L, 0, "warcinfo"), (7L, 1, "request"),
      (7L, 2, "response")))
  }

  test("WARC HTTP body decoding (r15): chunked framing and content-gzip " +
       "undo to the exact original bytes; declared-but-broken encodings " +
       "keep the raw wire bytes — never a partial or fabricated decode") {
    import graft.sources.Warc
    val body = ("the quick brown fox jumps over the lazy dog " * 3)
      .getBytes("UTF-8") // 132 bytes -> 9 chunks, hex sizes two digits
    def respBody(p: Array[Byte]): String = {
      val r = Warc.parseWarc(p).find(_._1 == "response").get
      new String(r._6, "UTF-8")
    }
    val want = new String(body, "UTF-8")
    // chunked alone, gzip alone, both stacked — all recover the bytes
    assert(respBody(Warc.syntheticWarc("u", "d", body,
      httpChunked = true)) == want)
    assert(respBody(Warc.syntheticWarc("u", "d", body,
      httpGzip = true)) == want)
    assert(respBody(Warc.syntheticWarc("u", "d", body,
      httpChunked = true, httpGzip = true)) == want)
    // per-record gzip members stack on top of the HTTP-layer encodings
    assert(respBody(Warc.syntheticWarc("u", "d", body, gzipped = true,
      httpChunked = true, httpGzip = true)) == want)
    // hand-rolled records (Content-Length computed, not hand-counted)
    def rawResp(block: String): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: " +
        s"${block.getBytes("ISO-8859-1").length}\r\n\r\n" + block)
        .getBytes("ISO-8859-1")
    // chunk extensions after the hex size are legal and ignored
    assert(respBody(rawResp("HTTP/1.1 200 OK\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n5;x=1\r\nhello\r\n0\r\n\r\n")) == "hello")
    // honesty: a BROKEN chunk size line keeps the raw wire bytes
    assert(respBody(rawResp("HTTP/1.1 200 OK\r\n" +
      "Transfer-Encoding: chunked\r\n\r\nZZ\r\nhello\r\n0\r\n\r\n"))
      == "ZZ\r\nhello\r\n0\r\n\r\n")
    // honesty: gzip declared but not gzip keeps the raw bytes
    assert(respBody(rawResp("HTTP/1.1 200 OK\r\n" +
      "Content-Encoding: gzip\r\n\r\nnot gzip")) == "not gzip")

    // ---- r16: TE-layer gzip + the body_decoded honesty flag ----
    def respFlag(p: Array[Byte]): Boolean =
      Warc.parseWarc(p).find(_._1 == "response").get._7
    // "Transfer-Encoding: gzip, chunked" (RFC 7230-legal, seen in real
    // crawls): de-chunk, then gunzip the TE layer — r15 left the TE
    // gzip in place, handing compressed bytes downstream as text
    val teGz = Warc.syntheticWarc("u", "d", body, httpTeGzip = true)
    assert(respBody(teGz) == want && respFlag(teGz))
    // TE gzip stacked over a CE gzip: both layers undone
    val teCeGz = Warc.syntheticWarc("u", "d", body,
      httpTeGzip = true, httpGzip = true)
    assert(respBody(teCeGz) == want && respFlag(teCeGz))
    // decoded flag: true on every undone stack, false wherever raw
    // bytes pass through (broken framing, codec-less coding)
    assert(respFlag(Warc.syntheticWarc("u", "d", body, httpChunked = true,
      httpGzip = true)))
    assert(!respFlag(rawResp("HTTP/1.1 200 OK\r\n" +
      "Transfer-Encoding: chunked\r\n\r\nZZ\r\nhello\r\n0\r\n\r\n")))
    assert(!respFlag(rawResp("HTTP/1.1 200 OK\r\n" +
      "Content-Encoding: gzip\r\n\r\nnot gzip")))
    // deflate/br have no codec here: raw passthrough, flagged — a text
    // stage filters on the flag instead of scoring compressed bytes
    val br = rawResp("HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\nBRBYTES")
    assert(respBody(br) == "BRBYTES" && !respFlag(br))
    // r17 (r16 ADVICE): a codec-less coding STACKED over chunked keeps
    // the ORIGINAL wire bytes — never the half-undone de-chunked form,
    // which is neither the truth on disk nor the content
    val brCh = rawResp("HTTP/1.1 200 OK\r\n" +
      "Transfer-Encoding: br, chunked\r\n\r\n5\r\nBRBYT\r\n0\r\n\r\n")
    assert(respBody(brCh) == "5\r\nBRBYT\r\n0\r\n\r\n" && !respFlag(brCh),
      "partial decode escaped: expected the raw chunk-framed wire bytes")
    // identity tokens are not a coding; plain responses stay true
    assert(respFlag(rawResp("HTTP/1.1 200 OK\r\n" +
      "Content-Encoding: identity\r\n\r\nplain")))
    assert(respFlag(Warc.syntheticWarc("u", "d", body)))
  }

  test("WARC file source (r15): an archive OVER the whole-payload " +
       "inflated cap parses record-streamed; per-record provenance ids " +
       "surface; mid-archive garbage is prefix-honest per FILE") {
    import graft.sources.Warc
    val dir = java.nio.file.Files.createTempDirectory("graft_warcspec_")
    try {
      // 300 pages x ~1 MB bodies = ~300 MB inflated — past the 256 MB
      // whole-payload ceiling, yet tiny gzipped (compressible bodies)
      val body = new Array[Byte](1024 * 1024) // zeros compress ~1000x
      Warc.writeSyntheticArchive(dir.toString, "big.warc.gz",
        (0 until 300).iterator.map(i =>
          (s"urn:graft:doc:$i", s"https://x/$i", body)))
      val bytes = java.nio.file.Files.readAllBytes(dir.resolve("big.warc.gz"))
      assert(Warc.parseWarc(bytes).isEmpty,
        "whole-payload path must refuse a >256MB-inflated archive")
      // a second, small file proves per-file isolation + field recovery
      Warc.writeSyntheticArchive(dir.toString, "small.warc.gz",
        Iterator(("urn:graft:doc:900", "https://x/900",
          "tiny page".getBytes("UTF-8"))))
      val rows = Warc.readWarcFiles(spark, dir.toString)
      val perFile = rows.groupBy("path").count().collect()
        .map(r => (r.getString(0).split("/").last, r.getLong(1))).toMap
      assert(perFile == Map("big.warc.gz" -> 900L, "small.warc.gz" -> 3L),
        perFile.toString)
      val resp = rows.filter(col("warc_type") === "response" &&
          col("rec_id") === "<urn:graft:doc:900:response>")
        .select("rec_idx", "url", "http_status", "mime").collect()
      assert(resp.length == 1 && resp(0).getInt(0) == 2 &&
        resp(0).getString(1) == "https://x/900" &&
        resp(0).getInt(2) == 200 && resp(0).getString(3) == "text/plain")
      // record indexes within the big file follow archive order exactly
      val idx17 = rows.filter(col("rec_id") === "<urn:graft:doc:17:response>")
        .select("rec_idx").collect()
      assert(idx17.map(_.getInt(0)).toSeq == Seq(17 * 3 + 2))
      // mid-archive garbage: the walk keeps the records BEFORE it and
      // stops — never fabricates, never skips-and-continues
      val out = new java.io.FileOutputStream(
        dir.resolve("broken.warc.gz").toFile)
      out.write(java.nio.file.Files.readAllBytes(dir.resolve("small.warc.gz")))
      out.write("this is not a gzip member".getBytes("UTF-8"))
      out.close()
      val broken = Warc.readWarcFiles(spark, dir.toString)
        .filter(col("path").endsWith("broken.warc.gz"))
      assert(broken.count() == 3,
        "prefix-honest: the 3 records before the garbage survive")
      // recursive listing (r15): crawls nest segments under prefixes
      val sub = dir.resolve("seg-2024").resolve("part-a")
      java.nio.file.Files.createDirectories(sub)
      Warc.writeSyntheticArchive(sub.toString, "nested.warc.gz",
        Iterator(("urn:graft:doc:901", "https://x/901",
          "nested page".getBytes("UTF-8"))))
      assert(!Warc.listWarcFiles(spark, dir.toString)
        .exists(_.contains("nested")), "non-recursive stays flat")
      val rec = Warc.listWarcFiles(spark, dir.toString, recursive = true)
      assert(rec.exists(_.endsWith("nested.warc.gz")), rec.toString)
      assert(Warc.readWarcFiles(spark, dir.toString, recursive = true)
        .filter(col("rec_id") === "<urn:graft:doc:901:response>").count() == 1)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("WARC file source (r16): the DRIVER session's Hadoop conf reaches " +
       "executor-side FileSystems — a scheme bound only via a session " +
       "conf key round-trips through write, list, and streamed read") {
    import graft.sources.Warc
    val dir = java.nio.file.Files.createTempDirectory("graft_warcconf_")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.grafttest.impl", classOf[GraftTestFileSystem].getName)
    try {
      val gdir = s"grafttest://$dir"
      // write path: writeArchives' executor tasks create files under the
      // session-conf-only scheme (a fresh executor Configuration() would
      // throw UnsupportedFileSystemException here)
      import spark.implicits._
      Warc.writeArchives(
        Seq((0L, 1L, "https://x/1", "page one"),
            (0L, 2L, "https://x/2", "page two"))
          .toDF("file_id", "doc_id", "url", "text"),
        gdir)
      // read path: the streamed per-file parse OPENS through the same
      // shipped conf (explicit paths — the listing is driver-side work
      // on the session conf already, and RawLocalFileSystem's
      // permission probe can't status a foreign scheme)
      val names = new java.io.File(dir.toString).list().toSeq
        .filter(_.endsWith(".warc.gz")).sorted
      assert(names == Seq("part-00000.warc.gz"), names.toString)
      val rows = Warc.readWarcPaths(spark, names.map(n => s"$gdir/$n"))
      assert(rows.count() == 6, "2 pages x (warcinfo, request, response)")
      assert(rows.filter(col("rec_id") === "<urn:graft:doc:2:response>")
        .select("url").collect().map(_.getString(0)).toSeq ==
        Seq("https://x/2"))
      assert(rows.select("path").distinct().collect()
        .forall(_.getString(0).startsWith("grafttest:")))
    } finally {
      hc.unset("fs.grafttest.impl")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("WARC file source (r16): the input stream closes on TASK " +
       "completion — an abandoned iterator (limit) releases its file " +
       "handle, not just a drained one") {
    import graft.sources.Warc
    val dir = java.nio.file.Files.createTempDirectory("graft_warcclose_")
    try {
      Warc.writeSyntheticArchive(dir.toString, "many.warc.gz",
        (0 until 50).iterator.map(i =>
          (s"urn:graft:doc:$i", s"https://x/$i", s"body $i".getBytes("UTF-8"))))
      val path = dir.resolve("many.warc.gz").toString
      val base = Warc.openStreams.get()
      // limit(1) takes one row and abandons the record iterator mid-file:
      // only the task-completion listener can close the stream
      assert(Warc.readWarcPaths(spark, Seq(path)).limit(1).count() == 1)
      assert(Warc.openStreams.get() == base,
        "abandoned iterator leaked its input stream")
      // happy path: a full drain also returns to baseline (and the
      // double-close guard means the listener firing after is a no-op)
      assert(Warc.readWarcPaths(spark, Seq(path)).count() == 150)
      assert(Warc.openStreams.get() == base)
      // r17 (r16 ADVICE): a .gz whose HEADER is garbage — the gzip
      // wrapper's CONSTRUCTOR throws while reading the header, and the
      // raw stream must already be owned by the completion listener
      // (and counted), or it leaks invisibly until GC
      val bad = dir.resolve("corrupt.warc.gz")
      java.nio.file.Files.write(bad, "this is no gzip header".getBytes)
      intercept[org.apache.spark.SparkException] {
        Warc.readWarcPaths(spark, Seq(bad.toString)).count()
      }
      assert(Warc.openStreams.get() == base,
        "corrupt-header gzip leaked the raw input stream")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("WARC revisit records (r16): refetched-unchanged pages surface " +
       "their payload digest, so dedup joins fetch-time identity " +
       "instead of re-hashing bodies that never travelled") {
    import graft.sources.Warc
    val dir = java.nio.file.Files.createTempDirectory("graft_warcrev_")
    try {
      val body = "original page body".getBytes("UTF-8")
      val digest = Warc.sha1Base32(body)
      // fetch 1: the full response; fetch 2 (a day later): CommonCrawl
      // writes a revisit record — digest only, no payload bytes
      val archive =
        Warc.syntheticWarc("https://x/page", "2024-01-01T00:00:00Z", body,
          gzipped = true, recordIdBase = "urn:graft:doc:1") ++
        Warc.syntheticRevisit("https://x/page", "2024-01-02T00:00:00Z",
          digest, refersTo = "<urn:graft:doc:1:response>",
          recordIdBase = "urn:graft:doc:1b", gzipped = true)
      java.nio.file.Files.write(dir.resolve("rev.warc.gz"), archive)
      val rows = Warc.readWarcFiles(spark, dir.toString)
      assert(rows.count() == 4) // warcinfo, request, response, revisit
      // responses now carry CommonCrawl's sha1/base32 payload digest
      val resp = rows.filter(col("warc_type") === "response").collect().head
      assert(resp.getAs[String]("payload_digest") == digest)
      assert(digest.startsWith("sha1:") && digest.length == 5 + 32)
      // the revisit row: type + digest surface, no payload travels
      val rev = rows.filter(col("warc_type") === "revisit").collect().head
      assert(rev.getAs[String]("url") == "https://x/page" &&
        rev.getAs[String]("warc_date") == "2024-01-02T00:00:00Z" &&
        rev.getAs[String]("payload_digest") == digest &&
        rev.getAs[Int]("http_status") == 0 &&
        rev.getAs[Array[Byte]]("body").isEmpty)
      // consumption shape: digest-equality joins the refetch to its
      // original — content dedup without touching body bytes
      val dup = rows.filter(col("warc_type").isin("response", "revisit"))
        .groupBy("payload_digest").count().collect()
      assert(dup.length == 1 && dup.head.getLong(1) == 2)
      // the per-payload reader surfaces the same column
      import spark.implicits._
      val viaPayload = Warc.readWarc(
          Seq((1L, archive)).toDF("doc_id", "payload"))
        .filter(col("warc_type") === "revisit")
        .select("payload_digest").collect()
      assert(viaPayload.map(_.getString(0)).toSeq == Seq(digest))
      // the MIXED distributed writer (r16): revisit pages write revisit
      // records whose digest comes from the body that does NOT travel;
      // the digest join resolves the dup — and an orphan (its original
      // in some other segment) resolves to nothing, never a fabricated
      // original
      val mdir = dir.resolve("mixed").toString
      Warc.writeArchives(Seq(
          (0L, 1L, "https://m/1", "original body", false),
          (0L, 2L, "https://m/1", "original body", true), // dup of 1
          (0L, 3L, "https://m/2", "elsewhere body", true)) // orphan
        .toDF("file_id", "doc_id", "url", "text", "rv"),
        mdir, revisitCol = "rv")
      val mixed = Warc.readWarcFiles(spark, mdir)
        .filter(col("warc_type").isin("response", "revisit"))
        .select(regexp_extract(col("rec_id"), "urn:graft:doc:(\\d+)", 1)
          .cast("long").as("id"), col("warc_type"), col("payload_digest"))
      val origs = mixed.filter(col("warc_type") === "response")
        .select(col("payload_digest"), col("id").as("dup_of"))
      val fates = mixed.filter(col("warc_type") === "revisit")
        .join(origs, Seq("payload_digest"), "left")
        .collect().map(r => r.getAs[Long]("id") ->
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)).toMap
      assert(fates == Map(2L -> Some(1L), 3L -> None), fates.toString)
      // revisit records carry no body bytes in the archive
      assert(Warc.readWarcFiles(spark, mdir)
        .filter(col("warc_type") === "revisit")
        .collect().forall(_.getAs[Array[Byte]]("body").isEmpty))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("WARC ingest loop (r16): the landing-vs-processed diff runs " +
       "ENGINE-side — a left-anti join against the processed-table " +
       "SCAN; only the fresh (batch-scale) names ever collect") {
    import graft.sources.Warc
    val t = tmp()
    import spark.implicits._
    TxLogFormat.appendBatch(
      Seq("f/a.warc.gz", "f/b.warc.gz").toDF("path"), t, "spec", 0L)
    val diff = Warc.landingDiff(spark,
      Seq("f/a.warc.gz", "f/b.warc.gz", "f/c.warc.gz", "f/d.warc.gz"),
      TxLogFormat.read(spark, t))
    assert(diff.as[String].collect().toSet ==
      Set("f/c.warc.gz", "f/d.warc.gz"))
    // plan pin: the diff is a LeftAnti JOIN whose processed side is the
    // txlog's parquet scan — the corpus-lifetime table never collects
    val plan = diff.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.toLowerCase.contains("parquet"),
      s"processed side must enter as a file scan, not collected rows:\n$plan")
  }
}

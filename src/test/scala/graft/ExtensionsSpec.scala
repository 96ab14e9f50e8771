package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config.SyncConfigs
import graft.plans.GraftExtensions
import graft.sources.JdbcSync

/** SQL function registration + JDBC sync wiring. */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("registered SQL functions evaluate through spark.sql") {
    GraftExtensions.registerAll(spark)
    Tables.embeddings(spark, TestSpark.Sf).limit(5)
      .createOrReplaceTempView("emb_t")
    val rows = spark.sql(
      """SELECT vec_id, cosine_sim(embedding, embedding) AS self_sim,
        |       lsh_bucket(embedding) AS bucket
        |FROM emb_t""".stripMargin).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("self_sim") - 1.0) < 1e-12)
      val b = r.getAs[Long]("bucket")
      assert(b >= 0 && b < 256) // 8 planes → buckets in [0, 2^8)
    }
    val h = spark.sql("SELECT md5_long60('abc') AS h").collect().head.getLong(0)
    assert(h === graft.functions.PortableHash.md5Long("abc"))
    // pq_codes / pq_lut registered and shape-correct through SQL
    val pq = spark.sql(
      "SELECT pq_codes(embedding) AS c, pq_lut(embedding) AS l FROM emb_t")
      .collect()
    pq.foreach { r =>
      val c = r.getSeq[Long](0)
      assert(c.length === graft.operators.Similarity.PqM + 1)
      assert(c.init.forall(k => k >= 0 &&
        k < graft.operators.Similarity.PqK))
      assert(r.getSeq[Long](1).length ===
        graft.operators.Similarity.PqM * graft.operators.Similarity.PqK)
    }
  }

  test("PqCodes/PqLut yield null on NaN elements (Math.round(NaN)=0 would " +
    "silently encode a perfect-distance code)") {
    import graft.operators.Similarity
    val nan = Array.fill(Similarity.Dim)(Float.NaN)
    val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(nan)
    val litE = org.apache.spark.sql.catalyst.expressions.Literal(arr,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    assert(graft.functions.PqCodes(litE, Similarity.pqCodebook)
      .eval(null) === null)
    assert(graft.functions.PqLut(litE, Similarity.pqCodebook)
      .eval(null) === null)
  }

  test("IntL2 interpreted eval: exact squared distance, null on null " +
    "element, common-prefix on length mismatch") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def litA(xs: Array[java.lang.Long]) =
      Literal(ArrayData.toArrayData(xs), ArrayType(LongType))
    def l2(a: Array[java.lang.Long], b: Array[java.lang.Long]) =
      graft.functions.IntL2(litA(a), litA(b)).eval(null)
    assert(l2(Array(3L, -4L, 0L), Array(0L, 0L, 0L)) === 25L)
    assert(l2(Array(1000000L, 2000000L), Array(-1000000L, 2000000L))
      === 4000000000000L)
    assert(l2(Array[java.lang.Long](1L, null), Array(1L, 1L)) === null)
    // common prefix: the shorter side bounds the loop
    assert(l2(Array(5L), Array(5L, 100L)) === 0L)
  }

  test("PqCodes interpreted eval matches the codegen'd dataframe result") {
    import graft.operators.Similarity
    val rows = Tables.embeddings(spark, TestSpark.Sf).limit(10)
      .select("vec_id", "embedding").collect()
    val viaDf = Similarity.pqEncode(Tables.embeddings(spark, TestSpark.Sf)
      .limit(10)).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    rows.foreach { r =>
      val arr = org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(r.getSeq[Float](1).toArray)
      val got = graft.functions.PqCodes(
        org.apache.spark.sql.catalyst.expressions.Literal(arr,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)),
        Similarity.pqCodebook)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray()
      val want = viaDf(r.getLong(0))
      (0 until Similarity.PqM).foreach(m =>
        assert(got(m) === want.getAs[Long](s"c$m")))
      assert(got(Similarity.PqM) / 1000 === want.getAs[Long]("err_e6"))
    }
  }

  test("jdbc sync SQL generation matches the reference's upsert/delete/poll shapes") {
    val cfg = SyncConfigs.parse(SyncConfigs.DemoYaml)
    val sync = cfg.sync.find(_.sourceTable == "lineitem").get
    val up = JdbcSync.upsertSql(sync, Seq("l_orderkey", "l_linenumber", "l_quantity"))
    assert(up.contains("ON CONFLICT (l_orderkey, l_linenumber) DO UPDATE SET"))
    assert(up.contains("l_quantity = EXCLUDED.l_quantity"))
    assert(!up.contains("l_orderkey = EXCLUDED"))
    val keysOnly = JdbcSync.upsertSql(sync, Seq("l_orderkey", "l_linenumber"))
    assert(keysOnly.contains("DO NOTHING"))
    val del = JdbcSync.deleteSql(sync)
    assert(del === "DELETE FROM public.lineitem WHERE l_orderkey = ? AND l_linenumber = ?")
    assert(JdbcSync.pollSql("dbsync", 500).contains("LIMIT 500"))
    assert(JdbcSync.url(cfg.dbs.head).startsWith("jdbc:postgresql://"))
    assert(JdbcSync.url(cfg.dbs(1)).startsWith("jdbc:mysql://"))
    // mysql dialect
    val my = JdbcSync.upsertSql(sync, Seq("l_orderkey", "l_linenumber", "l_quantity"),
      dialect = "mysql")
    assert(my.contains("ON DUPLICATE KEY UPDATE l_quantity = VALUES(l_quantity)"))
    assert(JdbcSync.upsertSql(sync, Seq("l_orderkey", "l_linenumber"),
      dialect = "mysql").startsWith("INSERT IGNORE"))
    // greenplum bulk path
    val bulk = JdbcSync.bulkLoadSql(sync, Seq("l_orderkey", "l_quantity"),
      "gpfdist://host:8081/stage")
    assert(bulk.length === 4)
    assert(bulk(1).contains("READABLE EXTERNAL TABLE"))
    assert(bulk(2).startsWith("INSERT INTO public.lineitem"))
    // greenplum has no ON CONFLICT: upserts route through the installed
    // update-then-insert helper
    val gp = JdbcSync.upsertSql(sync, Seq("l_orderkey", "l_linenumber", "l_quantity"),
      dialect = "greenplum")
    assert(gp.startsWith("SELECT public.gp_upsert('public', 'lineitem'"))
    assert(gp.contains("ARRAY['l_orderkey', 'l_linenumber']"))
    // sys-table bootstrap DDL
    val ddl = SyncConfigs.sysTableDdl("dbsync")
    assert(ddl.exists(_.contains("sync_data (")))
    assert(ddl.exists(_.contains("sync_polled")))
    assert(ddl.exists(_.contains("sync_data_status")))
    // greenplum bootstrap appends the gp_upsert helper function
    val gddl = SyncConfigs.sysTableDdl("dbsync", "greenplum")
    assert(gddl.length === ddl.length + 1)
    assert(gddl.last.contains("FUNCTION public.gp_upsert"))
    assert(gddl.last.contains("GET DIAGNOSTICS"))
    assert(SyncConfigs.sysTableDdl("dbsync", "postgresql") === ddl)
  }

  test("quality_filter verdicts follow the rules") {
    import org.apache.spark.sql.functions._
    val qf = graft.operators.TextAnalysis.qualityFilter(
      Tables.documents(spark, TestSpark.Sf))
    val bad = qf.where(col("keep") === "false")
    bad.collect().foreach { r =>
      val ok = r.getAs[Long]("chars") >= 50 && r.getAs[Long]("chars") <= 2000 &&
        r.getAs[Long]("tokens") >= 10 && r.getAs[Long]("punct_milli") <= 100
      assert(!ok)
    }
    assert(qf.count() === Tables.documents(spark, TestSpark.Sf).count())
  }

  test("dedup_apply removes exactly the confirmed dup ids") {
    val docs = Tables.documents(spark, TestSpark.Sf)
    val dups = graft.operators.Dedup.minhashDedup(docs)
      .select("dup_doc_id").collect().map(_.getLong(0)).toSet
    val kept = SparkEntry.queries("dedup_apply")(spark, TestSpark.Sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === all.diff(dups))
  }
}

package graft.domain

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.fixtures.LobsterFixture
import graft.sources.AuxSources

class PipelinesSpec extends SparkSpec {

  private lazy val prepped = LobsterFixture.preppedDay(spark).cache()

  test("EP1 end-to-end: 5-min vis-OI price-impact regression on the fixture") {
    val (panel, fits) = Pipelines.ep1(prepped, 5L * 60 * 1000000000L)
    assert(panel.count() == 65) // densified session bins minus last
    assert(fits.size == 1)
    val fit = fits.head
    assert(fit.group.head == "TEST")
    assert(fit.n > 10)
    assert(!fit.coefs(0).isNaN && !fit.adjR2.isNaN)
    assert(fit.r2 >= 0.0 && fit.r2 <= 1.0)
  }

  test("EP1 rejects kinds without exactly one OI column, naming the rest") {
    for (kind <- Seq("iceberg", "size", "agg", "nope")) {
      val e = intercept[IllegalArgumentException](
        Pipelines.ep1(prepped, 5L * 60 * 1000000000L, kind))
      assert(e.getMessage.contains(s"'$kind'") &&
        e.getMessage.contains("all, hid, vis"), e.getMessage)
    }
  }

  test("EP1 multi-delta fan-out computes panels per delta off one frame") {
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val m = Pipelines.ep1MultiDelta(prepped,
      Seq(5L * 60 * 1000000000L, 15L * 60 * 1000000000L))
    assert(m.panels.size == 2)
    assert(m.panels(5L * 60 * 1000000000L).count() == 65)
    assert(m.panels(15L * 60 * 1000000000L).count() == 21) // 22 bins - last
    // ownership contract: release() frees the shared feature frame the
    // operator persisted on our behalf — nothing NEW stays pinned
    // (the suite fixture's own cache is excluded via the before-set)
    m.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet
      .diff(pinnedBefore)
    assert(leaked.isEmpty,
      s"ep1MultiDelta left ${leaked.size} pinned RDDs after release()")
    // panels remain READABLE after release (recompute path, no
    // block-not-found): release truncates no lineage
    assert(m.panels(5L * 60 * 1000000000L).count() == 65)
  }

  test("EP3 ClOp signal composes daily OI + bars + params") {
    val bars = AuxSources.syntheticDailyBars(spark, Seq("TEST", "SPY"),
      "2024-01-10", "2024-01-20")
    val params = df("ticker STRING, intercept DOUBLE, b_oi DOUBLE, b_clop DOUBLE",
      Row("TEST", 0.001, 0.5, 0.2))
    val out = Pipelines.ep3ClOpSignal(prepped, bars, params)
    assert(out.count() == 1) // one ticker-day
    val r = out.collect()(0)
    assert(!r.isNullAt(r.fieldIndex("signal")))
  }

  test("trading calendar: weekdays only, holidays excluded") {
    val cal = AuxSources.tradingDays(spark, "2024-01-01", "2024-01-14",
      holidays = Seq("2024-01-01"))
    val sessions = cal.filter(col("is_session")).select("date").collect()
      .map(_.getDate(0).toString).sorted
    // Jan 2024: 1st is holiday Mon; sessions = Jan 2-5, 8-12 (weekdays)
    assert(sessions.sameElements(Array(
      "2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05",
      "2024-01-08", "2024-01-09", "2024-01-10", "2024-01-11",
      "2024-01-12")))
  }

  test("FF factor CSV reader: banner rows dropped, dates parsed, floor date") {
    val dir = java.nio.file.Files.createTempDirectory("ff").toFile
    val f = new java.io.File(dir, "ff.csv")
    val w = new java.io.PrintWriter(f)
    w.println("This file was created by Ken French")
    w.println("Missing data are indicated by -99.99")
    w.println(",SMB,HML,RF,CMA,RMW")
    w.println("20171229,0.1,0.2,0.01,0.3,0.4")
    w.println("20180102,0.5,0.6,0.02,0.7,0.8")
    w.println("20180103,0.9,1.0,0.03,1.1,1.2")
    w.println(" Annual Factors: January-December ")
    w.println("2018,1.1,2.2,0.3,3.3,4.4")
    w.close()
    val ff = AuxSources.ffFactorsCsv(spark, f.getAbsolutePath)
    val rows = ff.orderBy(col("date")).collect()
    assert(rows.length == 2) // 2017 row floored out, banners/annual dropped
    assert(rows(0).getDate(0).toString == "2018-01-02")
    assertApprox(rows(0).getDouble(1), 0.5)
    // yyyy row "2018" parses as date? regex ^\d{8}$ excludes it
  }

  test("model save/load round-trip (S10)") {
    val features = Features.hiddenExecFeatures(prepped)
    val train = graft.ml.DirectionModel.prepareTraining(features)
    val model = graft.ml.DirectionModel.logisticPipeline().fit(train)
    val path = java.nio.file.Files.createTempDirectory("mdl")
      .resolve("m").toString
    AuxSources.saveModel(model, path)
    val back = AuxSources.loadModel(path)
    val a = graft.ml.DirectionModel.attachPredictions(model, train)
      .agg(sum(col("pred_prob"))).collect()(0).getDouble(0)
    val b = graft.ml.DirectionModel.attachPredictions(back, train)
      .agg(sum(col("pred_prob"))).collect()(0).getDouble(0)
    assertApprox(a, b, 1e-9)
  }
}

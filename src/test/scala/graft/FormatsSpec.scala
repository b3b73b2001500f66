package graft

import org.apache.spark.sql.functions._

import graft.sources.Formats

/** Source/sink formats: every supported format round-trips a query result
  * and re-joins with the engine (SURVEY.md §2.1 S4 generalized). */
class FormatsSpec extends SparkSpec {

  test("orc/json/csv/parquet round-trip the pricing summary losslessly") {
    val result = operators.Relational.pricingSummary(spark, sf0001)
    val schema = result.schema
    Formats.Supported.foreach { fmt =>
      val dir = tempDir(s"graft_fmt_$fmt").toString + "/t"
      Formats.write(result, dir, fmt)
      val back = Formats.read(spark, dir, fmt, Some(schema))
        .orderBy("l_returnflag", "l_linestatus")
      // file formats surface everything nullable — compare name/type only
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        schema.fields.map(f => (f.name, f.dataType)).toSeq, s"$fmt schema drift")
      val a = result.collect().map(_.toSeq).toSeq
      val b = back.collect().map(_.toSeq).toSeq
      assert(a == b, s"$fmt round-trip mismatch")
    }
  }

  test("orc scan gets predicate pushdown + column pruning like parquet") {
    val dir = tempDir("graft_orc").toString + "/li"
    Formats.write(Tables.lineitem(spark, sf0001), dir, "orc")
    val plan = Formats.read(spark, dir, "orc")
      .filter(col("l_returnflag") === "A")
      .select("l_returnflag", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,A)]"),
      s"expected pushed filters in ORC scan:\n$plan")
    // pruned to exactly the two touched columns (scan orders them itself)
    assert(plan.contains("l_quantity:double") && plan.contains("l_returnflag:string")
      && !plan.contains("l_shipdate"),
      s"expected pruned read schema:\n$plan")
  }

  test("partitioned write prunes at the file index (PartitionFilters, not row filters)") {
    val dir = tempDir("graft_part").toString + "/docs"
    Formats.writePartitioned(
      Tables.documents(spark, sf0001), dir, "parquet", Seq("lang"))
    // layout: one hive-style directory per lang value
    val langDirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(langDirs.nonEmpty && langDirs.forall(_.startsWith("lang=")), s"got $langDirs")

    val read = Formats.read(spark, dir, "parquet").filter(col("lang") === "en")
    val plan = read.queryExecution.executedPlan.toString
    // the lang predicate must land in PartitionFilters (pruned before any
    // row is read), NOT in PushedFilters/post-scan Filter
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("lang"),
      s"expected lang in PartitionFilters:\n$plan")
    // correctness: partition-pruned read returns exactly the filtered rows
    val expected = Tables.documents(spark, sf0001)
      .filter(col("lang") === "en").count()
    assert(read.count() == expected && expected > 0)
  }

  test("q63 daily-pruned summary reads only the filtered day partitions") {
    val q = Formats.dailyPrunedSummary(spark, sf0001)
    val plan = q.queryExecution.executedPlan.toString
    // the day range must prune at the file index: PartitionFilters carries
    // `day`, and no post-scan Filter re-checks it
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("day"),
      s"expected day in PartitionFilters:\n$plan")
    // layout rewrite is invisible: same rows as the unpartitioned scan
    val direct = Tables.events(spark, sf0001)
      .filter(to_date(col("ts")).between("2024-01-05", "2024-01-09"))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_value"))
      .orderBy(col("day"), col("event_type"))
    assert(q.collect().toSeq == direct.collect().toSeq)
  }

  test("schema-evolution read unions evolved file schemas, null-filling old rows") {
    import spark.implicits._
    val dir = tempDir("graft_evolve").toString
    // producer v1: (doc_id, lang); later adds a quality column
    Seq((1L, "en"), (2L, "de")).toDF("doc_id", "lang")
      .write.mode("append").parquet(dir)
    Seq((3L, "en", 0.9)).toDF("doc_id", "lang", "quality")
      .write.mode("append").parquet(dir)
    val merged = Formats.readMerged(spark, dir)
    assert(merged.columns.sorted.toSeq == Seq("doc_id", "lang", "quality"))
    val rows = merged.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Double]("quality")).map(_.doubleValue)).toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some(0.9)),
      "old-file rows must surface the new column as NULL")
    // and the merged frame keeps engine semantics: filters/aggs work
    assert(merged.filter(col("quality").isNull).count() == 2)
  }

  test("unsupported format fails fast with the supported list") {
    val e = intercept[IllegalArgumentException] {
      Formats.write(Tables.region(spark, sf0001), "/tmp/x", "xml")
    }
    assert(e.getMessage.contains("parquet, orc, json, csv"))
  }
}

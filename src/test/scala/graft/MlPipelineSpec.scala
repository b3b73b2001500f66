package graft

import org.apache.spark.sql.functions._

import graft.functions.Sentiment
import graft.ml.SentimentStage

/** MLlib Pipeline variant of the sentiment scorer (SURVEY.md §2.4 E1). */
class MlPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("pipeline transform equals the raw column expression") {
    val df = Tables.documents(spark, sf0001).select("doc_id", "text")
    val viaMl = SentimentStage.fit(df).transform(df)
      .select(col("doc_id"), col("sentiment"))
    val viaCol = df.select(col("doc_id"), Sentiment.score(col("text")).as("sentiment"))
    assert(viaMl.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaMl).isEmpty)
  }

  test("transformSchema declares the struct; wrong input type rejected") {
    val stage = new SentimentStage()
    val out = stage.transformSchema(
      Seq(("a")).toDF("text").schema)
    assert(out.fieldNames.contains("sentiment"))
    intercept[IllegalArgumentException] {
      stage.transformSchema(Seq((1L)).toDF("text").schema)
    }
  }

  test("pipeline model with SentimentStage saves and loads (MLWritable)") {
    import org.apache.spark.ml.PipelineModel
    val df = Seq("I love fast spark").toDF("text")
    val dir = tempDir("graft_ml").toString + "/m"
    SentimentStage.fit(df).write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    assert(loaded.transform(df).select("sentiment.label").head.getString(0)
      == "POSITIVE")
  }

  test("composes in a multi-stage Pipeline with a feature stage") {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.feature.Tokenizer
    val df = Seq("I love fast spark", "slow broken error").toDF("text")
    val p = new Pipeline().setStages(Array(
      new SentimentStage().setInputCol("text"),
      new Tokenizer().setInputCol("text").setOutputCol("tokens")))
    val out = p.fit(df).transform(df)
    assert(out.columns.toSet.contains("sentiment") &&
      out.columns.toSet.contains("tokens"))
    assert(out.select("sentiment.label").collect().map(_.getString(0)).toSeq ==
      Seq("POSITIVE", "NEGATIVE"))
  }
}

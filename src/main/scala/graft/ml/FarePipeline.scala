package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.feature.{OneHotEncoder, OneHotEncoderModel, StandardScaler, StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor, RandomForestRegressionModel, RandomForestRegressor}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{abs, col, concat_ws, conv, count, lit, md5, pmod, substring, sum, var_samp, when}
import org.apache.spark.sql.graftglue.GraftGlue

import graft.io.Sinks.jsonString

/** The reference's 5-stage fare-prediction pipeline (sparkML.py:70-171),
  * 1:1 in native Scala Spark ML — StringIndexer → OneHotEncoder →
  * VectorAssembler → StandardScaler → regressor — plus the reference's
  * three RegressionEvaluator metrics, computed as one aggregate
  * ([[FarePipeline.scores]]), and feature importances.
  *
  * Parameter parity (persisted metadata under savedModels/stages/):
  * handleInvalid="keep" on both the indexer and assembler, default
  * dropLast=true one-hot, scaler withStd=true/withMean=false, RF
  * numTrees=100 maxDepth=10, split 0.8/0.2 seed 42. The reference's
  * label-leak (the label is also an assembled feature, SURVEY.md §2.9)
  * is NOT reproduced: pass the label in `numericCols` explicitly if
  * parity with the published metrics matters more than hygiene.
  *
  * The model slot is pluggable (`modelKind`: "rf" | "gbt") and extra
  * categorical columns stack as additional indexer stages — the two
  * historical variants in the reference's experiment tracking (a GBT run
  * with maxIter=100/maxDepth=5 and a two-categorical pipeline; see
  * BASELINE.md) are both expressible from the same config.
  */
final case class FareConfig(
    labelCol: String,
    categoricalCol: String,
    numericCols: Seq[String],
    numTrees: Int = 100,
    maxDepth: Int = 10,
    seed: Long = 42L,
    // "auto" (= onethird for regression) is the reference default; "all"
    // makes small synthetic fixtures learnable with few features
    featureSubsetStrategy: String = "auto",
    extraCategoricalCols: Seq[String] = Nil,
    modelKind: String = "rf") {
  def categoricalCols: Seq[String] = categoricalCol +: extraCategoricalCols
}

/** Size and regression quality of one group of scored rows: `rows`
  * counts every row, the metrics only the labeled ones. */
private[graft] final case class Scores(rows: Long, rmse: Double, mae: Double, r2: Double)

final case class FareMetrics(
    trainRmse: Double, trainMae: Double, trainR2: Double,
    testRmse: Double, testMae: Double, testR2: Double,
    importances: Seq[(String, Double)])

object FarePipeline {

  def build(cfg: FareConfig): Pipeline = {
    val indexers = cfg.categoricalCols.map { c =>
      new StringIndexer()
        .setInputCol(c)
        .setOutputCol(s"${c}_index")
        .setHandleInvalid("keep")
    }
    val encoder = new OneHotEncoder()
      .setInputCols(cfg.categoricalCols.map(c => s"${c}_index").toArray)
      .setOutputCols(cfg.categoricalCols.map(c => s"${c}_encoded").toArray)
    val assembler = new VectorAssembler()
      .setInputCols((cfg.numericCols ++
        cfg.categoricalCols.map(c => s"${c}_encoded")).toArray)
      .setOutputCol("assembled_features")
      .setHandleInvalid("keep")
    val scaler = new StandardScaler()
      .setInputCol("assembled_features")
      .setOutputCol("features")
    val model: PipelineStage = cfg.modelKind match {
      case "rf" =>
        new RandomForestRegressor()
          .setLabelCol(cfg.labelCol)
          .setFeaturesCol("features")
          .setNumTrees(cfg.numTrees)
          .setMaxDepth(cfg.maxDepth)
          .setFeatureSubsetStrategy(cfg.featureSubsetStrategy)
          .setSeed(cfg.seed)
      case "gbt" => // the reference's alternative run: maxIter plays numTrees
        new GBTRegressor()
          .setLabelCol(cfg.labelCol)
          .setFeaturesCol("features")
          .setMaxIter(cfg.numTrees)
          .setMaxDepth(cfg.maxDepth)
          .setSeed(cfg.seed)
      case other => throw new IllegalArgumentException(
        s"modelKind must be rf|gbt, got $other")
    }
    new Pipeline().setStages((indexers :+ encoder :+ assembler :+ scaler :+ model).toArray)
  }

  /** [[Scores]] of `prediction` against `label` for each value of the
    * integer `group`, all from ONE aggregate, with the formulas of
    * Spark's `RegressionMetrics` at unit weight: RMSE = √mean(e²),
    * MAE = mean|e| and R² = 1 − SSerr / (var_samp(y)·(n − 1)), n being
    * the labeled rows. A null label leaves its row out of the metrics
    * but not out of `rows`; a group with no labeled row, or no row at
    * all, scores NaN. Callers tag groups with literals, so the collect
    * is bounded by their count. */
  private[graft] def scores(pred: DataFrame, label: String,
                            group: Column = lit(0)): Map[Int, Scores] = {
    val y = col(label).cast("double")
    val e = y - col("prediction")
    pred.groupBy(group.as("__group"))
      .agg(count(lit(1)), count(e), sum(e * e), sum(abs(e)), var_samp(when(e.isNotNull, y)))
      .collect().map { r =>
        def d(i: Int) = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
        val n = r.getLong(2).toDouble
        val sse = d(3)
        r.getInt(0) -> Scores(r.getLong(1), math.sqrt(sse / n), d(4) / n,
          1 - sse / (d(5) * (n - 1)))
      }.toMap.withDefaultValue(Scores(0L, Double.NaN, Double.NaN, Double.NaN))
  }

  /** Feature names aligned with the assembled vector: numeric columns,
    * then each categorical's one-hot slots (categorySizes from the fitted
    * encoder, minus the dropLast slot). */
  private def featureNames(model: PipelineModel, cfg: FareConfig): Seq[String] = {
    val sizes = model.stages.collectFirst {
      case m: OneHotEncoderModel => m.categorySizes.toSeq
    }.getOrElse(Seq.fill(cfg.categoricalCols.size)(1))
    cfg.numericCols ++ cfg.categoricalCols.zip(sizes).flatMap {
      case (c, size) => (0 until math.max(size - 1, 0)).map(i => s"${c}_$i")
    }
  }

  /** Deterministic 0.8/0.2 split (P12), fit, evaluate train+test with the
    * reference's three metrics, extract sorted importances. */
  def fitEval(df: DataFrame, cfg: FareConfig): (PipelineModel, FareMetrics) = {
    val Array(train, test) = df.randomSplit(Array(0.8, 0.2), cfg.seed)
    val model = build(cfg).fit(train)
    // both splits are scored once, in the one aggregate of all six metrics
    def tagged(split: DataFrame, tag: Int) = model.transform(split)
      .select(col(cfg.labelCol), col("prediction"), lit(tag).as("__split"))
    val s = scores(tagged(train, 0).unionByName(tagged(test, 1)), cfg.labelCol,
      col("__split"))
    val importances = model.stages.last match {
      case m: RandomForestRegressionModel => m.featureImportances.toArray.toSeq
      case m: GBTRegressionModel => m.featureImportances.toArray.toSeq
      case _ => Nil
    }
    val names = featureNames(model, cfg)
    // a name/vector length mismatch would silently attribute importances
    // to the wrong features — fail loudly instead
    require(importances.isEmpty || names.size == importances.size,
      s"feature name count ${names.size} != importance vector ${importances.size}")
    val imps = names.zip(importances).sortBy(-_._2)
    val metrics = FareMetrics(s(0).rmse, s(0).mae, s(0).r2,
      s(1).rmse, s(1).mae, s(1).r2, imps)
    (model, metrics)
  }

  final case class CvMetrics(foldRmse: Seq[Double], meanRmse: Double,
                             sdRmse: Double)

  /** k-fold cross-validation of the pipeline: folds come from an md5 of
    * the feature+label tuple, so the SAME rows land in the SAME fold on
    * every run, engine, and partitioning — randomSplit-based CV would
    * reshuffle membership whenever the partitioning changed. Each fold
    * trains on the complement and scores held-out RMSE; mean ± sd is
    * the generalization estimate the single 80/20 split (fitEval) can't
    * give. Driver loops k times over the checkpointed fold assignment —
    * k model fits is the inherent cost of CV, not a relational detour. */
  def crossValidate(df: DataFrame, cfg: FareConfig,
                    folds: Int = 5): CvMetrics = {
    require(folds >= 2, s"folds must be >= 2: $folds")
    val withFold = withFolds(df, cfg, folds)
      .transform(GraftGlue.materialize(_)) // assignment materializes once for all k fits
    val rmses = (0 until folds).map { f =>
      val model = build(cfg).fit(withFold.filter(col("__fold") =!= f))
      scores(model.transform(withFold.filter(col("__fold") === f)),
        cfg.labelCol)(0).rmse
    }
    val mean = rmses.sum / folds
    val sd = math.sqrt(rmses.map(r => (r - mean) * (r - mean)).sum / (folds - 1))
    CvMetrics(rmses, mean, sd)
  }

  /** `df` plus its [[crossValidate]] fold, `__fold` in [0, folds): an md5
    * of the feature+label tuple. */
  private[graft] def withFolds(df: DataFrame, cfg: FareConfig, folds: Int): DataFrame = {
    val keyCols = (cfg.numericCols ++ cfg.categoricalCols :+ cfg.labelCol)
      .map(c => col(c).cast("string"))
    df.withColumn("__fold",
      pmod(conv(substring(md5(concat_ws(":", keyCols: _*)), 1, 15), 16, 10)
        .cast("long"), lit(folds.toLong)))
  }

  /** One JSON line for a fit: params + the six metrics + importances —
    * the persistent form of the reference's experiment tracking (params,
    * metrics and the importance table logged per run; SURVEY.md §1.1
    * declares the tracking *server* out of scope, this is the artifact).
    * Stable key order, so lines diff cleanly across runs. */
  def metricsJson(cfg: FareConfig, m: FareMetrics): String = {
    // NaN/Infinity are not JSON — absent metric slots serialize as null
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val imps = m.importances
      .map { case (n, v) => s"[${jsonString(n)},${num(v)}]" }.mkString("[", ",", "]")
    s"""{"model":${jsonString(cfg.modelKind)},"label":${jsonString(cfg.labelCol)},""" +
      s""""num_trees":${cfg.numTrees},"max_depth":${cfg.maxDepth},""" +
      s""""seed":${cfg.seed},""" +
      s""""train_rmse":${num(m.trainRmse)},"train_mae":${num(m.trainMae)},"train_r2":${num(m.trainR2)},""" +
      s""""test_rmse":${num(m.testRmse)},"test_mae":${num(m.testMae)},"test_r2":${num(m.testR2)},""" +
      s""""importances":$imps}"""
  }

  /** Append a fit's metrics line to a JSON-lines run log (K6: the metric
    * sink). Plain file append — one line per fit, newest last. */
  def appendMetrics(path: String, cfg: FareConfig, m: FareMetrics): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, metricsJson(cfg, m) + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND): Unit
  }
}

package graft.features

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param.{Param, ParamMap, Params, StringArrayParam}
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types._

/** Categorify as a spark.ml Estimator/Model pair (reference: NVTabular
  * ops.Categorify, workflow_builder.py:18,24,27,43,46,58; SURVEY §2.8 F1):
  * multi-column fit producing frequency-ordered dictionaries (id 0 reserved
  * for null/OOV), transform = per-column dictionary join, dictionaries
  * persisted as `unique.<col>.parquet` when `dictDir` is set (read back like
  * my_merlin_flow.py:243-246).
  *
  * The fitted state is the dictionary DataFrames themselves (distributed,
  * joinable) — never a driver-side map, so 100M+-cardinality columns fit
  * the same code path (see Categorify.fitDictionaryHighCardinality).
  */
trait CategorifyParams extends Params {
  final val inputCols = new StringArrayParam(this, "inputCols", "columns to encode")
  final val dictDir = new Param[String](this, "dictDir", "optional parquet dictionary dir ('' = none)")
  setDefault(dictDir -> "")
  def getInputCols: Array[String] = $(inputCols)
  /** Suffix of each encoded column: `c` encodes to `c_id`. */
  protected final val idSuffix = "_id"
}

class CategorifyEstimator(override val uid: String)
    extends Estimator[CategorifyModel] with CategorifyParams {
  def this() = this(Identifiable.randomUID("categorify"))

  def setInputCols(cols: Array[String]): this.type = set(inputCols, cols)
  def setDictDir(dir: String): this.type = set(dictDir, dir)

  override def fit(dataset: Dataset[_]): CategorifyModel = {
    val df = dataset.toDF()
    val dicts = $(inputCols).map { c =>
      val dict = Categorify.fitDictionary(df, c)
      if ($(dictDir).nonEmpty)
        dict.write.mode("overwrite").parquet(s"${$(dictDir)}/unique.$c.parquet")
      c -> dict
    }.toMap
    copyValues(new CategorifyModel(uid, dicts).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    $(inputCols).foldLeft(schema)((s, c) =>
      StructType(s.fields :+ StructField(c + idSuffix, LongType, nullable = false)))

  override def copy(extra: ParamMap): CategorifyEstimator = defaultCopy(extra)
}

class CategorifyModel(override val uid: String,
    val dictionaries: Map[String, DataFrame])
    extends Model[CategorifyModel] with CategorifyParams {

  override def transform(dataset: Dataset[_]): DataFrame =
    $(inputCols).foldLeft(dataset.toDF()) { (df, c) =>
      Categorify.encode(df, c, dictionaries(c), c + idSuffix)
    }

  override def transformSchema(schema: StructType): StructType =
    $(inputCols).foldLeft(schema)((s, c) =>
      StructType(s.fields :+ StructField(c + idSuffix, LongType, nullable = false)))

  override def copy(extra: ParamMap): CategorifyModel =
    copyValues(new CategorifyModel(uid, dictionaries).setParent(parent), extra)
}

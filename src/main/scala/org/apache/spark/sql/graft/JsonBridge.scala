package org.apache.spark.sql.graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Driver-side JSON record parsing. `spark.read.schema(s).options(o)
  * .json(ds: Dataset[String])` parses each record in a task with catalyst's
  * `JacksonParser` under a `FailureSafeParser`; this runs that same parser
  * stack, built the same way, on the calling thread, so a document the
  * driver already holds is parsed without a Spark job. `StructType
  * .asNullable` and the session's `withActive` are `private[sql]`, hence
  * this shim's package (same pattern as [[ColumnBridge]]).
  */
object JsonBridge {
  /** The rows `spark.read.schema(schema).options(options)
    * .json(Seq(record).toDS()).collect()` returns, or the exception its
    * parser raises (FAILFAST).
    */
  def parse(spark: SparkSession, schema: StructType, options: Map[String, String],
      record: String): Seq[Row] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    session.withActive {
      val conf = session.sessionState.conf
      val opts = new JSONOptions(options, conf.sessionLocalTimeZone,
        conf.columnNameOfCorruptRecord)
      val readSchema =
        if (conf.getConf(SQLConf.LEGACY_RESPECT_NULLABILITY_IN_TEXT_DATASET_CONVERSION)) schema
        else schema.asNullable
      val parsed = StructType(readSchema.filterNot(_.name == opts.columnNameOfCorruptRecord))
      val raw = new JacksonParser(parsed, opts, allowArrayAsStructs = true)
      val parser = new FailureSafeParser[String](
        in => raw.parse(in, CreateJacksonParser.string, UTF8String.fromString),
        opts.parseMode, readSchema, opts.columnNameOfCorruptRecord)
      val toRow = CatalystTypeConverters.createToScalaConverter(readSchema)
      parser.parse(record).map(r => toRow(r).asInstanceOf[Row]).toVector
    }
  }
}

package graft
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  FloatType, MapType, StructType}

/** One-off inventory dump for the double-output allowlist spec
  * (r9 verdict #4): prints `key<TAB>col,col,...` for every registry
  * key whose OUTPUT schema carries a floating-point column (top-level
  * or array-of-float element). Run at sf0.001. */
object SchemaDump {
  /** Floating-point output columns of a schema — THE definition both
    * the regeneration dump below and DoubleLedgerSpec's drift gate
    * use; a single site so the rule cannot desynchronize from the
    * gate. FULLY RECURSIVE (r10 ADVICE): a double anywhere in a
    * column's type tree — array element, struct field, map key or
    * value, at any nesting — classifies the column, so a future key
    * emitting doubles inside structs/maps cannot slip past the
    * fq-vs-round audit unclassified. */
  def floatCols(schema: StructType): Seq[String] = {
    def hasFloat(dt: DataType): Boolean = dt match {
      case DoubleType | FloatType => true
      case ArrayType(e, _)        => hasFloat(e)
      case MapType(k, v, _)       => hasFloat(k) || hasFloat(v)
      case s: StructType          => s.fields.exists(f => hasFloat(f.dataType))
      case _                      => false
    }
    schema.fields.collect { case f if hasFloat(f.dataType) => f.name }.toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(PlanAudit.AuditCores)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val cols = floatCols(fn(spark, sfDir).schema)
        if (cols.nonEmpty) println(s"DBLCOL\t$name\t${cols.mkString(",")}")
        else println(s"DBLCOL\t$name\t")
      } catch {
        case e: Throwable => println(s"DBLERR\t$name\t${e.getMessage}")
      }
    }
    spark.stop()
  }
}

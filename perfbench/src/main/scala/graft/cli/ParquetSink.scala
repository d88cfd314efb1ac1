package graft.cli

import org.apache.spark.sql.DataFrame

/** Gives the benchmark the CLI's parquet sink, which is package-private. */
object ParquetSink {
  def writeCounted(name: String, df: DataFrame, dir: String): (String, Long) =
    Main.writeParquetCounted(name, df, dir)
}

package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile

/** The engine's ONE way to read a parquet footer. Every footer read in
  * `src/main` goes through here (a source guard in `Dsv2Spec` fails
  * otherwise).
  *
  * Why: parquet-mr's one-argument `open(InputFile)` (no read options)
  * builds `new HadoopParquetConfiguration()` — a brand-new
  * default Hadoop `Configuration` that parses `core-default.xml` on
  * first use, about 10 ms of CPU per call. Opening with options built
  * from the caller's own (already loaded) conf costs well under 1 ms.
  *
  * The options carry `FilterCompat.NOOP`: a caller's conf may hold a
  * row-group filter predicate (a reader conf prepared for a pushed
  * filter), and a filtered open would drop row groups from the
  * footer's record count. Footer reads here are always exact.
  */
object ParquetFooters {

  def read(file: InputFile, conf: Configuration): ParquetMetadata = {
    val options = HadoopReadOptions.builder(conf)
      .withRecordFilter(FilterCompat.NOOP)
      .build()
    val r = ParquetFileReader.open(file, options)
    try r.getFooter
    finally r.close()
  }

  def read(path: Path, conf: Configuration): ParquetMetadata =
    read(HadoopInputFile.fromPath(path, conf), conf)

  /** Exact row count of one parquet file: every row group's rows. */
  def rowCount(path: Path, conf: Configuration): Long = {
    var n = 0L
    read(path, conf).getBlocks.forEach(b => n += b.getRowCount)
    n
  }
}

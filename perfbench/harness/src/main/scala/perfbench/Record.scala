package perfbench

import java.nio.file.{Files, Paths}

import graft.engine.GraftSession

/** Writes the expected digests from a `graft.Verify` output directory,
  * one `name rows:hashsum` line per query row:
  *
  *   Record <verifyOutDir> <digests.tsv> <row,row,...>
  *
  * Only record from a Verify run whose output `tools/compare.py` passed
  * against the DuckDB oracle on the same data, so every digest the
  * benchmark checks against is an oracle-verified result. */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(verifyDir, out, rows) = args
    val spark = GraftSession.builder(appName = "perfbench-record", cpus = "4").getOrCreate()
    try {
      val lines = rows.split(',').filter(_.nonEmpty).sorted.map { r =>
        s"$r ${Digest.of(spark.read.parquet(s"$verifyDir/$r"))}"
      }
      Files.writeString(Paths.get(out),
        "# row rows:sum(xxhash64) -- from graft.Verify output checked by tools/compare.py\n" +
          lines.mkString("", "\n", "\n"))
    } finally spark.stop()
  }
}

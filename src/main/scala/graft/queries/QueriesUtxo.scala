package graft.queries

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.{Hex, ScriptCodec, SnapshotGen}
import graft.sources.UtxoConvert

/** The reference's own surface (SURVEY.md §2 R1-R5, C1-C7, Q1-Q4) as
  * driver-visible queries: synthesize a deterministic snapshot, convert
  * through the full source→sink pipeline, then run the README query
  * shape over the produced parquet. Rows-only checks (the input is
  * binary, not a corpus table) — byte-level correctness is pinned by
  * CodecSpec/UtxoSourceSpec golden tests.
  */
object QueriesUtxo {

  /** Public: the oracle SQL reads this parquet directly from DuckDB,
    * after the JVM exits, so it keeps a fixed path.
    */
  val ParquetPath = "/tmp/graft_utxo_e2e_parquet"
  private val NCoins = 100000

  /** Marked script the README-style point query looks up. */
  val knownScript: Array[Byte] = ScriptCodec.decompress(0, Array.tabulate[Byte](20)(i => (i + 1).toByte))
  val knownHex: String = Hex.encode(knownScript)

  /** This JVM's mark on the converted fixture, written next to its
    * `_SUCCESS`: a convert written by another JVM (an earlier run, older
    * code) is never served.
    */
  private val Token = java.util.UUID.randomUUID().toString
  private val TokenFile = "_graft_jvm_token"

  private val lock = new Object

  /** Convert the marked snapshot once per JVM. */
  private def ensureConverted(s: SparkSession): String = lock.synchronized {
    val token = new File(ParquetPath, TokenFile)
    val current = new File(ParquetPath, "_SUCCESS").exists() && token.isFile &&
      java.nio.file.Files.readString(token.toPath) == Token
    if (!current) {
      val marked = Seq(
        SnapshotGen.Group("11" * 32, Seq(SnapshotGen.GenCoin(0, 30, coinbase = false, 5000, knownScript))),
        SnapshotGen.Group("22" * 32, Seq(SnapshotGen.GenCoin(1, 10, coinbase = true, 7000, knownScript))),
        SnapshotGen.Group("33" * 32, Seq(SnapshotGen.GenCoin(2, 20, coinbase = false, 9000, knownScript))))
      // the snapshot (and the split index the convert writes beside it)
      // is scratch under the application's staging root
      val snapDir = new File(SessionMemo.scratch("utxo_e2e_snapshot"))
      snapDir.mkdirs()
      val snap = new File(snapDir, "snapshot.bin")
      try {
        val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(snap), 1 << 20)
        try SnapshotGen.write(out, marked ++ SnapshotGen.synthetic(NCoins, seed = 1234L))
        finally out.close()
        org.apache.commons.io.FileUtils.deleteDirectory(new File(ParquetPath))
        UtxoConvert.convert(s, snap.getPath, ParquetPath)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(snapDir)
      java.nio.file.Files.writeString(token.toPath, Token)
    }
    ParquetPath
  }

  /** Q3+Q4+Q2: the reference README's address point-lookup
    * (`README.md:54-56`) over the engine-converted file.
    */
  def e2ePointLookup(s: SparkSession, dir: String): DataFrame = {
    val parquet = ensureConverted(s)
    UtxoConvert.readConverted(s, parquet)
      .filter(col("script") === unhex(lit(knownHex)))
      .select(col("txid"), col("vout"), col("amount"), col("height"))
      .orderBy(col("height"))
  }

  /** Script-class distribution over the converted snapshot — exercises
    * the C5 classification as a query-time UDF (E26).
    */
  def e2eScriptTypes(s: SparkSession, dir: String): DataFrame = {
    val parquet = ensureConverted(s)
    UtxoConvert.readConverted(s, parquet)
      .groupBy(graft.functions.GraftFunctions.scriptType(col("script")).as("script_class"))
      .agg(count(lit(1)).as("n"), sum(col("amount")).as("total_sats"))
      .orderBy(col("script_class"))
  }
}

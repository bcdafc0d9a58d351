package graft.functions

import graft.schema.Schemas
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-hash builders for change detection (SURVEY.md §2.9 C13–C15, §2.10 T2).
  *
  * The reference computes per-row content hashes to make its warehouse upserts
  * no-ops on unchanged rows (`... WHERE row_hash IS DISTINCT FROM
  * EXCLUDED.row_hash`, src/utils/db_connector.py:400-405). Two reference
  * styles exist:
  *  - C13 md5 of positionally-concatenated stringified values, None -> "",
  *    no separator (src/utils/hasher.py:16-18);
  *  - C14 sha256 of '|'-joined payload fields
  *    (scripts/bulk_import_from_hashed.py:95-105).
  *
  * Per SURVEY.md §7.4 we do NOT chase byte-parity with Python `str()`
  * rendering; the canonical engine hash is [[canonicalRowHash]]:
  * sha2-256 over '|'-joined natural key + payload, nulls -> "", so that
  * identical payloads under different keys never collide across keys (fixes
  * the reference defect noted in SURVEY.md §2.12).
  */
object HashFns {

  private def asStr(c: Column): Column = coalesce(c.cast("string"), lit(""))

  /** C13 shape: md5 over no-separator concatenation, null -> "". */
  def md5Concat(cols: Seq[Column]): Column = md5(concat(cols.map(asStr): _*))

  /** C14 shape: sha256 over '|'-joined values, null -> "". */
  def sha2Pipe(cols: Seq[Column]): Column =
    sha2(concat_ws("|", cols.map(asStr): _*), 256)

  /** Canonical engine row hash: natural key fields first, then payload. */
  def canonicalRowHash(keyCols: Seq[Column], payloadCols: Seq[Column]): Column =
    sha2Pipe(keyCols ++ payloadCols)

  /** Stamps a warehouse batch: `row_hash` is [[canonicalRowHash]] over
    * `keys`, then every other column of `df` in frame order, and
    * `updated_at` is `asOf`. The hash scope is exactly the frame handed
    * in: a column dropped or added before this call leaves or joins it. */
  def withRowHash(df: DataFrame, keys: Seq[String], asOf: Column): DataFrame =
    df.withColumn("row_hash", rowHash(df.columns.toSeq, keys))
      .withColumn(Schemas.updatedAt, asOf.cast("timestamp"))

  /** [[canonicalRowHash]] over `keys`, then the other `columns` in order. */
  def rowHash(columns: Seq[String], keys: Seq[String]): Column =
    canonicalRowHash(keys.map(col), columns.filterNot(keys.contains).map(col))

  /** 64-bit non-cryptographic hash for shuffles/partitioning/LSH seeds —
    * xxhash64 is codegen'd and ~10x cheaper than sha2 at 100 TB scan scale. */
  def fastHash(cols: Seq[Column]): Column = xxhash64(cols: _*)
}

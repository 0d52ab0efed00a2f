package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level encryption/masking (SURVEY §2.2 R2; reference:
  * jobs/raw/dl_rw_job.py:70-83 — per-value KMS encrypt + base64, column
  * list from metadata commons/utilities.py:194).
  *
  * The reference called a KMS service per VALUE — a network round-trip
  * per cell, catastrophic at scale. Spark-first rebuild: envelope
  * encryption — one data key per job (driver-side KMS call, stubbed
  * here), then codegen'd `aes_encrypt` over the column. The only
  * KMS-touching step is O(1) per job, not O(rows).
  */
object Mask {

  /** Deterministic masking (ECB) enables equality joins on masked keys;
    * GCM (default elsewhere) is nondeterministic and stronger — choose
    * per column sensitivity.
    */
  def encryptColumn(c: Column, key: String, mode: String = "ECB"): Column =
    base64(aes_encrypt(c.cast("string"), lit(key), lit(mode)))

  def decryptColumn(c: Column, key: String, mode: String = "ECB"): Column =
    aes_decrypt(unbase64(c), lit(key), lit(mode)).cast("string")

  /** SHA-256 one-way masking for join-safe pseudonymization. */
  def hashColumn(c: Column, salt: String = ""): Column =
    sha2(concat(c.cast("string"), lit(salt)), 256)
}

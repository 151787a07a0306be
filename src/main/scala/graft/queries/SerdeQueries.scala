package graft.queries

import org.apache.spark.sql.functions._
import graft.Q
import graft.operators.DepositOps
import graft.sources.Tables

/** O12 wire serde under the driver's correctness gate: every validated
  * deposit is encoded to protobuf wire bytes ([[graft.serde.ProtoWire]])
  * and decoded back inside one codegen'd projection; the oracle recomputes
  * the decoded fields AND the exact wire length from the proto3 framing
  * rules (1-byte tag + 1-byte length varint + utf8 payload for the string
  * field — wallet ids are far below the 128-byte varint boundary — and
  * tag + 8 bytes for the double, zero values omitted). A framing or
  * round-trip bug in either direction breaks the hash.
  */
object SerdeQueries {

  val all: Seq[Q] = Seq(
    Q("q_proto_roundtrip",
      "WITH d AS (SELECT CAST(user_id AS VARCHAR) AS wallet_id, event_id AS seq, " +
        "value AS amount FROM events WHERE value > 0) " +
        "SELECT wallet_id, seq, amount, " +
        "CAST((CASE WHEN wallet_id = '' THEN 0 ELSE 2 + octet_length(encode(wallet_id)) END) " +
        "+ (CASE WHEN amount = 0 THEN 0 ELSE 9 END) AS BIGINT) AS wire_len " +
        "FROM d ORDER BY seq") { (s, dir) =>
      DepositOps.deposits(Tables.events(s, dir))
        .select(col("wallet_id").cast("string").as("wid"), col("seq"), col("amount"))
        .withColumn("bin",
          call_function("proto_encode_deposit", col("wid"), col("amount")))
        .withColumn("d", call_function("proto_decode_deposit", col("bin")))
        .select(
          col("d.wallet_id").as("wallet_id"),
          col("seq"),
          col("d.amount").as("amount"),
          length(col("bin")).cast("long").as("wire_len"))
        .orderBy(col("seq"))
    }
  )
}

"""Canonical schemas.

Maps the reference's data model (SURVEY.md §1) to Catalyst types:

- ``SEQUENCES``: the engine's primary input per BASELINE.json
  ``input_hint`` — the tokenized-sequence analog of the reference's
  Kafka payload stream (``src/consumer.rs:174-191``).
- ``SHARDS``: second stream for the shard-correlation stream-stream
  join (the reference correlates the same tx across 3 topics via
  dedup-first-wins, ``src/config.rs:161-165`` + ``src/consumer.rs:235-241``).
- ``EVENTS_SOLANA``: flat event row mirroring ``SolanaEvent``
  (``src/events.rs:38-52``) with the schemaless JSON half promoted to
  typed nullable columns (numeric-as-string → DecimalType per
  ``src/core/schemas/solana.proto:102-109``).
- ``BLOCKS``: nested block-message shape (``schemas/block_message.proto:91-95``)
  for first-matching-child extraction tests (P1-P3).
"""

from __future__ import annotations

from pyspark.sql import types as T

VOCAB_SIZE = 50257  # GPT-2-style vocab; token values live in [0, VOCAB_SIZE)
# fixture token generator (datagen): token i of canon doc c is
# (c*K1 + i*K2) mod VOCAB_SIZE, and n_tok < MAX_TOK
K1 = 2654435761  # Knuth multiplicative hash constants
K2 = 2246822519
MAX_TOK = 2048

SEQUENCES = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

SHARDS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("shard_id", T.IntegerType(), False),
        T.StructField("tokens_part", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# SolanaEvent analog (src/events.rs:38-52); event_type values src/events.rs:23-30
EVENT_TYPES = ["transaction", "token_transfer", "dex_trade", "balance_update"]

EVENTS_SOLANA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), False),
        T.StructField("slot", T.LongType(), False),
        T.StructField("signature", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("program_id", T.StringType(), True),
        T.StructField("market_address", T.StringType(), True),
        T.StructField("side", T.StringType(), True),
        T.StructField("amount_base", T.DoubleType(), True),
        T.StructField("price", T.DoubleType(), True),
        T.StructField("amount", T.LongType(), True),
        T.StructField("fee", T.LongType(), False),
    ]
)

_TRADE = T.StructType(
    [
        T.StructField("program_address", T.StringType(), True),
        T.StructField("market_address", T.StringType(), True),
        T.StructField("buy_amount", T.LongType(), False),
        T.StructField("sell_amount", T.LongType(), False),
        T.StructField("buy_account", T.StringType(), True),
        T.StructField("sell_account", T.StringType(), True),
        T.StructField("fee", T.LongType(), False),
        T.StructField("royalty", T.LongType(), False),
    ]
)

_TX = T.StructType(
    [
        T.StructField("idx", T.IntegerType(), False),
        T.StructField("signature", T.StringType(), False),
        T.StructField("success", T.BooleanType(), False),
        T.StructField("fee", T.LongType(), False),
        T.StructField("fee_payer", T.StringType(), True),
        T.StructField("trades", T.ArrayType(_TRADE), False),
        T.StructField("logs", T.ArrayType(T.StringType()), False),
    ]
)

BLOCKS = T.StructType(
    [
        T.StructField("block_id", T.LongType(), False),
        T.StructField("slot", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("transactions", T.ArrayType(_TX), False),
    ]
)


# TokenBlockMessage analog (schemas/token_block_message.proto shape;
# ``parse_token_message_content``, src/consumer.rs:306-346): binary
# addresses/signatures (the reference hex-encodes byte fields) and
# OPTIONAL sender/receiver/currency sub-structs (unwrap_or("unknown")).
_TRANSFER = T.StructType(
    [
        T.StructField("amount", T.LongType(), False),
        T.StructField(
            "sender",
            T.StructType([T.StructField("address", T.BinaryType(), False)]),
            True,
        ),
        T.StructField(
            "receiver",
            T.StructType([T.StructField("address", T.BinaryType(), False)]),
            True,
        ),
        T.StructField(
            "currency",
            T.StructType(
                [
                    T.StructField("mint_address", T.BinaryType(), False),
                    T.StructField("decimals", T.IntegerType(), False),
                ]
            ),
            True,
        ),
    ]
)

_TOKEN_TX = T.StructType(
    [
        T.StructField("idx", T.IntegerType(), False),
        T.StructField("signature", T.BinaryType(), False),
        T.StructField("transfers", T.ArrayType(_TRANSFER), False),
    ]
)

TOKEN_BLOCKS = T.StructType(
    [
        T.StructField("block_id", T.LongType(), False),
        T.StructField("slot", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("transactions", T.ArrayType(_TOKEN_TX), False),
    ]
)

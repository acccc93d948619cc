"""P7: obfuscation transform.

The reference encrypts every string attribute/body/name with a Feistel
cipher (/root/reference/collector/processor/obfuscationprocessor/processor.go:31-260).
We provide two modes, both pure column expressions:

- ``hash``: sha2-256 truncated — one-way, deterministic, join-preserving
  (same plaintext -> same token), the common log-scrubbing contract.
- ``aes``: reversible aes_encrypt/aes_decrypt (Spark built-ins) for the
  cases where the reference's decrypt-ability matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def obfuscate_strings(
    df: DataFrame, cols: list[str], mode: str = "hash", key: str = "0123456789abcdef"
) -> DataFrame:
    """Replace each of ``cols`` by its token: the first 16 hex chars of its
    sha2-256 (``hash``) or its base64 AES-ECB ciphertext under ``key``
    (``aes``); nulls stay null."""
    out = df
    for c in cols:
        if mode == "hash":
            tok = F.substring(F.sha2(F.col(c).cast("string"), 256), 1, 16)
        elif mode == "aes":
            tok = F.base64(F.aes_encrypt(F.col(c).cast("binary"), F.lit(key), F.lit("ECB")))
        else:
            raise ValueError(f"unknown mode {mode}")
        out = out.withColumn(c, F.when(F.col(c).isNotNull(), tok))
    return out


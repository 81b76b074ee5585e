"""AES-CTR record decryption/encryption + data-key service.

Reference semantics:
- record payloads are base64 AES/CTR/NoPadding ciphertext, decrypted with a
  per-record data key that is itself decrypted by an external Data Key
  Service, with a per-JVM memo cache (``HttpKeyService.kt:96-161``,
  ``AESCipherService.kt:38-58``);
- any decrypt error ⇒ record skipped, not job failure
  (``DecryptionProcessor.kt:51-56``);
- outputs are re-encrypted with one fresh data key per run
  (``HttpKeyService.kt:44-49``, ``S3StreamingWriter.kt:163-187``).

Spark-first mapping: decryption is a vectorized pandas UDF (Arrow batches,
~100× row-at-a-time Python) whose closure holds the per-executor key cache —
the same cache-per-process shape as the reference's per-JVM map. Failures
return null; callers route nulls to a quarantine DataFrame.

At 100 TB: the UDF is embarrassingly parallel and shuffle-free; the key
cache keeps DKS round-trips at O(distinct keys per executor), and a
single-key run (the reference default) costs one lookup per executor.
"""

from __future__ import annotations

import base64
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

def aes_ctr(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AES/CTR/NoPadding — symmetric, so encrypt == decrypt.

    The cryptography import happens at CALL time: this module is
    registered for by-value pickling (see package __init__) so executor
    UDFs are self-contained, and module-level third-party imports would
    be captured into the pickle (cryptography's module objects aren't
    picklable)."""
    try:
        from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
    except ImportError:  # pragma: no cover - baked into the target image
        raise NotImplementedError("cryptography library unavailable")
    cipher = Cipher(algorithms.AES(key), modes.CTR(iv))
    enc = cipher.encryptor()
    return enc.update(data) + enc.finalize()


# --- data-key service -------------------------------------------------------

# decrypt_key(kek_id, encrypted_key_b64) -> plaintext data key bytes
KeyService = Callable[[str, str], bytes]


def local_key_service(kek_id: str, encrypted_key: str) -> bytes:
    """Fixture KMS stub: the 'encrypted' key IS base64(plaintext key).

    Stands in for the reference's external DKS in tests; swap in an
    HTTPS-backed implementation for production (same signature, and the
    executor-side memo cache below applies unchanged).
    """
    return base64.b64decode(encrypted_key)


def make_decrypt_udf(key_service: KeyService = local_key_service):
    """Vectorized decrypt: (db_object, encrypted_key, kek_id, iv) → plaintext.

    Returns null for any per-record failure (bad base64, wrong key size,
    key-service error) — the quarantine path, mirroring the reference's
    skip-on-DecryptionFailureException.

    Nondeterministic because it calls the key service: the optimizer must
    not copy it into a pushed-down filter.
    """

    @F.pandas_udf(T.StringType())
    def decrypt(
        it: Iterator[tuple[pd.Series, pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        key_cache: dict[tuple[str, str], bytes] = {}  # per-executor memo

        def one(db_object, encrypted_key, kek_id, iv):
            try:
                ck = (kek_id, encrypted_key)
                dk = key_cache.get(ck)
                if dk is None:
                    dk = key_service(kek_id, encrypted_key)
                    key_cache[ck] = dk
                plain = aes_ctr(dk, base64.b64decode(iv), base64.b64decode(db_object))
                return plain.decode("utf-8")
            except Exception:
                return None

        for db_object, encrypted_key, kek_id, iv in it:
            yield pd.Series(
                [one(*row) for row in zip(db_object, encrypted_key, kek_id, iv)],
                dtype="object",
            )

    return decrypt.asNondeterministic()


def encrypt_bytes(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Output-side encryption for the snapshot sink (S7)."""
    return aes_ctr(key, iv, data)


# --- output-side batch data key --------------------------------------------


class DataKeyResult:
    """One run-scoped output data key, mirroring the reference's DKS
    ``batchDataKey()`` response (DataKeyResult at DomainClasses.kt:17,
    fetched once per run at HttpKeyService.kt:44-49): the plaintext key
    encrypts locally; only the KEK id and the ENCRYPTED key travel in
    object metadata (S3ObjectServiceImpl.kt:40-43)."""

    __slots__ = ("data_key_encryption_key_id", "plaintext_data_key", "ciphertext_data_key")

    def __init__(
        self,
        data_key_encryption_key_id: str,
        plaintext_data_key: bytes,
        ciphertext_data_key: str,
    ) -> None:
        self.data_key_encryption_key_id = data_key_encryption_key_id
        self.plaintext_data_key = plaintext_data_key
        self.ciphertext_data_key = ciphertext_data_key


def local_batch_data_key() -> DataKeyResult:
    """Fixture stand-in for DKS batchDataKey(): 'encryption' is base64 —
    the exact inverse of ``local_key_service`` so round-trip tests can
    recover the plaintext key from the metadata alone."""
    import os as _os

    key = _os.urandom(16)
    return DataKeyResult(
        "local-kms/1", key, base64.b64encode(key).decode("ascii")
    )

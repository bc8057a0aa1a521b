"""Column encryption (reference C6 parquet-modular-encryption
passthrough, CarpetWriter.java:235-238): AES-GCM block payloads,
AAD-bound to block position, deterministic salted nonces. Manifests/
lineage stay plaintext, but encrypted columns' statistics (zone
bounds, value-bearing codec params) and bloom payloads are encrypted
too — parquet redacts encrypted columns' stats and encrypts their
bloom modules even in plaintext-footer mode."""

import json
import os

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from conftest import local_frame
from tokcodec.crypto import block_aad, decrypt_block_row, encrypt_block_row
from tokcodec.io_tables import (
    compact_encoded,
    read_encoded,
    read_encoded_direct,
    write_encoded,
)

# every test also runs as "<test>[tasks]" with the scan's task
# placement forced (tests/conftest.py)
pytestmark = pytest.mark.both_placements

KEY = bytes(range(32))
SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("n_tok", T.IntegerType(), False),
    T.StructField("source", T.StringType(), False),
])


def _mk(spark, n=200):
    return local_frame(spark.createDataFrame(
        [Row(doc_id=f"d{i:04d}", tokens=[i, i + 1, i + 2], n_tok=3,
             source=f"s{i % 3}") for i in range(n)], SCHEMA))


def test_unit_roundtrip_and_aad_binding():
    row = {"run_id": "r1", "bucket": 3, "chunk": 0, "column": "c",
           "component": "values", "payload": b"secret payload bytes",
           "meta": "{}", "enc_bytes": 0, "checksum": 0}
    encrypt_block_row(KEY, row)
    assert row["payload"][12:] != b"secret payload bytes"
    assert "gcm" in row["meta"]
    moved = dict(row, bucket=4)  # same bytes, different position
    with pytest.raises(ValueError, match="moved|wrong"):
        decrypt_block_row(KEY, moved)
    with pytest.raises(ValueError, match="wrong"):
        decrypt_block_row(bytes(32), dict(row))
    decrypt_block_row(KEY, row)
    assert row["payload"] == b"secret payload bytes"
    assert block_aad(row) == b"r1|3|0|c|values"


def test_table_roundtrip_encrypted(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _mk(spark)
    write_encoded(df, path, n_buckets=2, run_id="r1", encryption_key=KEY)
    m = json.loads(open(os.path.join(path, "_manifest.json")).read())
    assert m["encrypted_columns"] == ["doc_id", "n_tok", "source", "tokens"]
    got = {r.doc_id: r.tokens for r in
           read_encoded(spark, path, encryption_key=KEY).collect()}
    assert got == {r.doc_id: r.tokens for r in df.collect()}
    # direct reader too
    d = read_encoded_direct(spark, path, columns=["doc_id", "n_tok"],
                            encryption_key=KEY)
    assert d.count() == 200


def test_ciphertext_on_disk_and_key_required(spark, tmp_path):
    path = str(tmp_path / "t")
    write_encoded(_mk(spark), path, n_buckets=2, run_id="r1",
                  encryption_key=KEY, encrypted_columns=["doc_id"])
    # the plaintext of an unencrypted column IS findable in the block
    # files; the encrypted column's is not
    blob = b""
    for root, _d, fs in os.walk(os.path.join(path, "blocks")):
        for f in fs:
            blob += open(os.path.join(root, f), "rb").read()
    assert b"d0001" not in blob          # encrypted column
    with pytest.raises(ValueError, match="encrypted"):
        read_encoded(spark, path).collect()
    # unencrypted projection needs no key
    assert read_encoded(spark, path, columns=["n_tok"]).count() == 200
    # wrong key -> clear executor error
    with pytest.raises(Exception, match="wrong key|decryption failed"):
        read_encoded(spark, path,
                     encryption_key=bytes(32)).collect()


def test_partial_encryption_with_filters(spark, tmp_path):
    """Plaintext-footer mode: zone pruning on an UNencrypted column
    still works while another column is encrypted."""
    path = str(tmp_path / "t")
    write_encoded(_mk(spark), path, n_buckets=2, run_id="r1",
                  chunk_max_rows=32,
                  encryption_key=KEY, encrypted_columns=["doc_id"])
    out = read_encoded(spark, path, range_filter=("n_tok", 3, 3),
                       encryption_key=KEY)
    assert out.count() == 200


def test_append_inherits_and_compaction_reencrypts(spark, tmp_path):
    path = str(tmp_path / "t")
    write_encoded(_mk(spark, 100), path, n_buckets=2, run_id="r1",
                  encryption_key=KEY, encrypted_columns=["doc_id"])
    # append without key -> rejected; with key -> inherits column set
    with pytest.raises(ValueError, match="requires encryption_key"):
        write_encoded(_mk(spark, 10), path, n_buckets=2, run_id="r2")
    with pytest.raises(ValueError, match="mismatch"):
        write_encoded(_mk(spark, 10), path, n_buckets=2, run_id="r3",
                      encryption_key=KEY, encrypted_columns=["source"])
    write_encoded(_mk(spark, 100), path, n_buckets=2, run_id="r4",
                  epoch=1, encryption_key=KEY)
    info = compact_encoded(spark, path, encryption_key=KEY)
    assert info["rows"] == 200
    m = json.loads(open(os.path.join(path, "_manifest.json")).read())
    assert m["encrypted_columns"] == ["doc_id"]
    out = read_encoded(spark, path, encryption_key=KEY)
    assert out.select(F.countDistinct("doc_id")).collect()[0][0] == 100


def test_key_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="16/24/32"):
        write_encoded(_mk(spark, 5), str(tmp_path / "x"), n_buckets=1,
                      run_id="r", encryption_key=b"short")
    with pytest.raises(ValueError, match="requires encryption_key"):
        write_encoded(_mk(spark, 5), str(tmp_path / "y"), n_buckets=1,
                      run_id="r", encrypted_columns=["doc_id"])


def test_stream_encode_encryption_passthrough(spark, tmp_path):
    """stream_encode forwards write kwargs: every micro-batch of an
    encrypted stream commits ciphertext under the same key and the
    table reads back whole."""
    import os

    from tokcodec.sources import stream_encode
    from tokcodec.synth import synth_df

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    full = synth_df(spark, 300, seed=3, partitions=2)
    full.write.mode("overwrite").parquet(src_dir)
    enc_path = str(tmp_path / "enc")
    stream = (spark.readStream.schema(full.schema)
              .option("maxFilesPerTrigger", "1").parquet(src_dir))
    q = stream_encode(stream, enc_path, n_buckets=2,
                      checkpoint_dir=str(tmp_path / "ckpt"),
                      trigger_once=True,
                      encryption_key=KEY, encrypted_columns=["tokens"])
    q.awaitTermination(300)
    m = json.loads(open(os.path.join(enc_path, "_manifest.json")).read())
    assert m["encrypted_columns"] == ["tokens"]
    with pytest.raises(ValueError, match="encrypted"):
        read_encoded(spark, enc_path).collect()
    dec = read_encoded(spark, enc_path, encryption_key=KEY)
    assert dec.count() == 300


def test_evolution_append_omitting_encrypted_column(spark, tmp_path):
    """An evolved append that omits a NULLABLE encrypted column is
    legal: _evolve_schema null-fills it, and the filled column's
    blocks encrypt like any other."""
    path = str(tmp_path / "t")
    base = local_frame(spark.createDataFrame(
        [Row(doc_id=f"d{i}", secret=f"s{i}", n=i) for i in range(50)],
        T.StructType([
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("secret", T.StringType(), True),
            T.StructField("n", T.IntegerType(), False)])))
    write_encoded(base, path, n_buckets=1, run_id="r1",
                  encryption_key=KEY, encrypted_columns=["secret"])
    nosecret = local_frame(spark.createDataFrame(
        [Row(doc_id=f"e{i}", n=100 + i) for i in range(20)],
        "doc_id string, n int"))
    write_encoded(nosecret, path, n_buckets=1, run_id="r2", epoch=1,
                  schema_evolution=True, encryption_key=KEY)
    out = read_encoded(spark, path, encryption_key=KEY)
    assert out.count() == 70
    assert out.filter(F.col("secret").isNull()).count() == 20


def test_schema_on_read_encrypted(spark, tmp_path):
    """decode_blocks_as (schema-on-read: alias mapping, widening) also
    decrypts — and refuses without the key."""
    from tokcodec.io_tables import read_encoded_as

    path = str(tmp_path / "t")
    write_encoded(_mk(spark, 60), path, n_buckets=1, run_id="r1",
                  encryption_key=KEY, encrypted_columns=["doc_id"])
    read_schema = T.StructType([
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("n_tok", T.LongType(), True),  # widened
    ])
    out = read_encoded_as(spark, path, read_schema, encryption_key=KEY)
    rows = {r.doc_id: r.n_tok for r in out.collect()}
    assert len(rows) == 60 and rows["d0003"] == 3
    assert out.schema["n_tok"].dataType == T.LongType()
    with pytest.raises(ValueError, match="encrypted"):
        read_encoded_as(spark, path, read_schema).collect()


def test_schema_on_read_plaintext_projection_needs_no_key(spark, tmp_path):
    """ADVICE r4: a read_encoded_as projection touching only plaintext
    columns of a partially-encrypted table must not demand the key
    (read_encoded already scoped the check to touched columns)."""
    from tokcodec.io_tables import read_encoded_as

    path = str(tmp_path / "t")
    write_encoded(_mk(spark, 60), path, n_buckets=1, run_id="r1",
                  encryption_key=KEY, encrypted_columns=["doc_id"])
    read_schema = T.StructType([
        T.StructField("n_tok", T.LongType(), True),
        T.StructField("source", T.StringType(), True),
    ])
    out = read_encoded_as(spark, path, read_schema)  # no key
    assert out.count() == 60
    assert set(out.columns) == {"n_tok", "source"}


def test_stats_redacted_on_disk(spark, tmp_path):
    """ADVICE r4 (high): encrypted columns must not leak value bounds
    through plaintext metadata — zone maps (lo/hi, slo/shi), FOR
    ref / delta first codec params, and bloom payloads all live inside
    the encrypted envelope; the stored meta of every encrypted block
    is exactly {enc, emeta}."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    write_encoded(_mk(spark), path, n_buckets=2, run_id="r1",
                  chunk_max_rows=32, bloom_columns=["doc_id"],
                  encryption_key=KEY,
                  encrypted_columns=["doc_id", "n_tok"])
    seen_enc = 0
    for root, _d, fs in os.walk(os.path.join(path, "blocks")):
        for f in fs:
            t = pq.read_table(os.path.join(root, f))
            for col, meta in zip(t.column("column").to_pylist(),
                                 t.column("meta").to_pylist()):
                if col in ("doc_id", "n_tok"):
                    keys = set(json.loads(meta))
                    assert keys <= {"enc", "emeta"}, (col, keys)
                    seen_enc += 1
    assert seen_enc > 0
    # a filtered scan on an encrypted column without the key fails
    # fast at plan time
    with pytest.raises(ValueError, match="encrypted"):
        read_encoded(spark, path, range_filter=("n_tok", 3, 3))
    with pytest.raises(ValueError, match="encrypted"):
        read_encoded(spark, path, eq_filter=("doc_id", "d0003"),
                     columns=["source"])


def test_encrypted_zone_and_bloom_pruning_with_key(spark, tmp_path):
    """WITH the key, zone/bloom pruning on encrypted columns still
    works (parquet encrypted-column-index analogue), in both readers,
    and actually prunes chunks."""
    from tokcodec.io_tables import explain_scan

    path = str(tmp_path / "t")
    df = _mk(spark, 400).withColumn("k", F.monotonically_increasing_id())
    df = df.drop("n_tok").withColumn(
        "n_tok", (F.col("k") % 50).cast("int")).drop("k")
    write_encoded(df, path, n_buckets=2, run_id="r1", chunk_max_rows=32,
                  cluster_by="n_tok", bloom_columns=["doc_id"],
                  encryption_key=KEY,
                  encrypted_columns=["doc_id", "n_tok"])
    # grouped reader: range on the encrypted clustered column
    got = read_encoded(spark, path, range_filter=("n_tok", 10, 12),
                       encryption_key=KEY)
    assert got.count() == df.filter("n_tok between 10 and 12").count()
    # eq/bloom point lookup on the encrypted string column
    got2 = read_encoded(spark, path, eq_filter=("doc_id", "d0007"),
                        encryption_key=KEY)
    assert got2.count() == 1
    # direct reader, same filters
    got3 = read_encoded_direct(spark, path,
                               range_filter=("n_tok", 10, 12),
                               encryption_key=KEY)
    assert got3.count() == df.filter("n_tok between 10 and 12").count()
    got4 = read_encoded_direct(spark, path, eq_filter=("doc_id", "d0007"),
                               encryption_key=KEY)
    assert got4.count() == 1
    # pruning evidence: the surviving chunk set is a strict subset,
    # for the zone and the bloom filter alike
    for kw in ({"range_filter": ("n_tok", 10, 12)},
               {"eq_filter": ("doc_id", "d0007")}):
        ex = explain_scan(spark, path, encryption_key=KEY, **kw)
        assert 0 < ex["chunks_scanned"] < ex["chunks_total"], (kw, ex)


def test_run_manifest_holds_no_summary_of_encrypted_columns(spark,
                                                            tmp_path):
    """File summaries are metadata in clear: an encrypted column gets
    neither a zone nor a file bloom in the run manifest or its bloom
    sidecar, while a plaintext column of the same run gets both. With
    the key, chunk pruning of the encrypted columns still works."""
    from tokcodec.io_tables import explain_scan

    path = str(tmp_path / "t")
    write_encoded(_mk(spark, 400), path, n_buckets=2, run_id="r1",
                  chunk_max_rows=32, bloom_columns=["doc_id", "source"],
                  encryption_key=KEY, encrypted_columns=["doc_id", "n_tok"])
    runs = os.path.join(path, "_runs")
    m = json.loads(open(os.path.join(runs, "r1.json")).read())
    enc = [f for f in m["files"] if f["column"] in ("doc_id", "n_tok")]
    plain = [f for f in m["files"] if f["column"] == "source"]
    assert enc and plain
    assert not any("zone" in f or "bloom" in f for f in enc)
    assert all("zone" in f and "bloom" in f for f in plain)
    # the sidecar holds the plaintext column's blooms and nothing else
    side = open(os.path.join(runs, "r1.bloom"), "rb").read()
    assert len(side) == sum(f["bloom"][1] for f in plain)
    for kw in ({"range_filter": ("n_tok", 3, 3)},
               {"eq_filter": ("doc_id", "d0007")}):
        ex = explain_scan(spark, path, encryption_key=KEY, **kw)
        assert ex["files_pruned"] == 0, (kw, ex)
    ex = explain_scan(spark, path, encryption_key=KEY,
                      eq_filter=("doc_id", "d0007"))
    assert 0 < ex["chunks_scanned"] < ex["chunks_total"], ex
    assert read_encoded(spark, path, eq_filter=("doc_id", "d0007"),
                        encryption_key=KEY).count() == 1


def test_deterministic_nonces(spark):
    """Nonces derive from (salt, position, purpose): same salt+position
    -> identical stored bytes; fresh salt -> different nonce (no
    random-IV birthday cap under a long-lived table key)."""
    from tokcodec.crypto import encrypt_block_row, new_run_salt

    def mk():
        return {"run_id": "r1", "bucket": 1, "chunk": 0, "column": "c",
                "component": "values", "payload": b"pp", "meta": "{}",
                "enc_bytes": 0, "checksum": 0}

    salt = new_run_salt()
    a, b = mk(), mk()
    encrypt_block_row(KEY, a, salt=salt)
    encrypt_block_row(KEY, b, salt=salt)
    assert a["payload"] == b["payload"] and a["meta"] == b["meta"]
    c = mk()
    encrypt_block_row(KEY, c, salt=new_run_salt())
    assert c["payload"][:12] != a["payload"][:12]
    d = dict(mk(), chunk=1)  # different position -> different nonce
    encrypt_block_row(KEY, d, salt=salt)
    assert d["payload"][:12] != a["payload"][:12]

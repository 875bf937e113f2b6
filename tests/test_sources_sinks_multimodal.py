"""Raw-text source (message splitter) and reconstruction sinks."""

import json

import pyspark.sql.functions as F
import pytest

from clp_core_spark.operators import encode_pipeline, sinks
from clp_core_spark.sources import raw_text

LOG = """2016-05-08 07:34:05,251 task started
2016-05-08 07:34:05,252 exception follows
  at Foo.bar(Baz.java:42)
  at Qux.quux(Corge.java:7)
2016-05-08 07:34:06,000 done
"""


def test_message_splitter_rules():
    msgs = raw_text.split_messages(LOG)
    texts = [t for _, _, t in msgs]
    assert texts[0] == " task started"
    # continuation lines merge into the timestamped message
    assert texts[1] == " exception follows\n  at Foo.bar(Baz.java:42)\n  at Qux.quux(Corge.java:7)"
    assert msgs[0][1] is not None and msgs[0][1].isoformat() == "2016-05-08T07:34:05.251000"


def test_no_timestamp_prefix_lines_split_per_line():
    msgs = raw_text.split_messages("alpha\nbeta\n2016-05-08 07:34:05 x\ny")
    assert [t for _, _, t in msgs] == ["alpha", "beta", " x\ny"]
    assert msgs[0][1] is None and msgs[2][1] is not None


def test_read_log_files(spark, tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.log").write_text(LOG)
    (d / "b.log").write_text("2016-05-08 07:34:07,000 other file\n")
    df = raw_text.read_log_files(spark, str(d))
    rows = df.orderBy("path", "msg_idx").collect()
    assert len(rows) == 4
    assert rows[0]["text"] == " task started"
    assert rows[3]["text"] == " other file"
    assert rows[3]["ts"] is not None


MULTI_FORMAT_LOG = """2016-05-08T07:34:05.251 iso millis line
[20160508-07:34:05] bracketed compact
150131  9:50:45 space-padded hour v=42
January 31, 2015 15:50 full month name
E [08/May/2016:15:50:45 prefixed apache style
  continuation under the apache line
916321 relative millis line
no timestamp epilogue is its own message"""


def test_file_reconstruction_roundtrip(spark, tmp_path):
    """clp c + clp x analog: raw files -> messages -> CLP encode ->
    decode -> re-insert formatted timestamps -> byte-equal file content
    (FileDecompressor.cpp:1-77). Covers several bank patterns incl. the
    space-padded and relative-ms directives."""
    d = tmp_path / "rtlogs"
    d.mkdir()
    (d / "a.log").write_text(MULTI_FORMAT_LOG)
    (d / "b.log").write_text(LOG.rstrip("\n"))

    msgs = raw_text.read_log_files(spark, str(d))
    enc, lt, vd = encode_pipeline.encode(msgs, key_cols=["path", "msg_idx"])
    dec = encode_pipeline.decode(enc, lt, vd, ["path", "msg_idx"])
    files = sinks.reconstruct_log_files(
        dec, text_col="decoded_text"
    ).collect()
    got = {r["path"].split("/")[-1]: r["content"] for r in files}
    assert got["a.log"] == MULTI_FORMAT_LOG
    assert got["b.log"] == LOG.rstrip("\n")


def test_crlf_content_reconstructs_byte_equal(spark, tmp_path):
    """Strict '\\n' splitting keeps '\\r' (and unicode separators) inside
    the message text, so CRLF files roundtrip byte-equal; a single
    trailing newline is consumed by the source (documented)."""
    crlf = (
        "2016-05-08 07:34:05,251 one\r\n"
        "plain continuation\r\n"
        "2016-05-08 07:34:06,000 two\r"
    )
    d = tmp_path / "crlf"
    d.mkdir()
    (d / "c.log").write_text(crlf)
    msgs = raw_text.read_log_files(spark, str(d))
    files = sinks.reconstruct_log_files(msgs).collect()
    assert files[0]["content"] == crlf


def test_trailing_newline_consumed_once():
    msgs = raw_text.split_messages("alpha\nbeta\n")
    assert [t for _, _, t in msgs] == ["alpha", "beta"]
    # blank lines in the middle are real (empty) messages
    msgs2 = raw_text.split_messages("alpha\n\nbeta")
    assert [t for _, _, t in msgs2] == ["alpha", "", "beta"]


def test_overlong_digit_run_does_not_crash():
    """A line starting with a >19-digit run must fall through as an
    unmatched (timestamp-less) line, not OverflowError the ingest task."""
    line = "12345678901234567890123 huge id line"
    msgs = raw_text.split_messages(line)
    assert len(msgs) == 1 and msgs[0][1] is None and msgs[0][2] == line


def test_reconstruct_size_guard(spark):
    """Files above max_file_bytes refuse to reconstruct (pointing at
    decompress_to_text) instead of OOMing one executor group."""
    df = spark.createDataFrame(
        [("f", i, None, -1, "x" * 100) for i in range(5)],
        "path string, msg_idx long, ts timestamp, pattern_id int, text string",
    )
    with pytest.raises(Exception, match="max_file_bytes"):
        sinks.reconstruct_log_files(df, max_file_bytes=64).collect()
    ok = sinks.reconstruct_log_files(df, max_file_bytes=10_000).collect()
    assert len(ok) == 1


def test_read_compressed_and_tar_sources(spark, tmp_path):
    """gzip'd logs and .tar.gz archives split into the same messages as
    plain files (compressed-archive source, SURVEY §2.1)."""
    import gzip
    import io
    import tarfile

    d = tmp_path / "clogs"
    d.mkdir()
    (d / "plain.log").write_text(LOG)
    (d / "zipped.log.gz").write_bytes(gzip.compress(LOG.encode()))
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        data = LOG.encode()
        info = tarfile.TarInfo("inner/a.log")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
        other = "2016-05-08 07:34:08,000 tar member two\n".encode()
        info2 = tarfile.TarInfo("inner/b.log")
        info2.size = len(other)
        tf.addfile(info2, io.BytesIO(other))
    (d / "arch.tar.gz").write_bytes(buf.getvalue())

    df = raw_text.read_log_files(spark, str(d)).persist()
    by_path = {
        p: n for p, n in (
            (r["path"], r["cnt"]) for r in
            df.groupBy("path").agg(F.count("*").alias("cnt")).collect()
        )
    }
    plain_key = [p for p in by_path if p.endswith("plain.log")][0]
    gz_key = [p for p in by_path if p.endswith("zipped.log.gz")][0]
    a_key = [p for p in by_path if p.endswith("!inner/a.log")][0]
    b_key = [p for p in by_path if p.endswith("!inner/b.log")][0]
    assert by_path[gz_key] == by_path[plain_key] == by_path[a_key] == 3
    assert by_path[b_key] == 1
    # identical content => identical message texts across codecs
    texts = lambda k: [  # noqa: E731
        r["text"] for r in df.filter(F.col("path") == k).orderBy("msg_idx").collect()
    ]
    assert texts(gz_key) == texts(plain_key) == texts(a_key)
    df.unpersist()


def test_decompress_to_text_sink(spark, tmp_path):
    from clp_core_spark.sources.transcripts import generate_transcripts

    t = generate_transcripts(spark, num_turns=500, seed=42)
    enc, lt, vd = encode_pipeline.encode(t, key_cols=["conv_id", "turn_idx"])
    out = str(tmp_path / "text_out")
    sinks.decompress_to_text(enc, lt, vd, out, partitions=8)
    # range-partitioned parallel write: global order = part files in
    # filename order x line order within each file
    import glob

    files = sorted(glob.glob(out + "/part-*"))
    assert len(files) > 1, "expected a multi-file parallel write"
    back: list[str] = []
    for f in files:
        with open(f) as fh:
            back.extend(fh.read().splitlines())
    # multiline turns split into several text lines on write; compare the
    # full concatenation instead of row counts
    want_rows = (
        t.orderBy("conv_id", "turn_idx").select("text").collect()
    )
    want = "\n".join(r["text"] for r in want_rows)
    assert "\n".join(back) == want


def test_reconstruct_json(spark):
    from clp_core_spark.sources.transcripts import generate_transcripts

    t = generate_transcripts(spark, num_turns=200, seed=42)
    enc, lt, vd = encode_pipeline.encode(t, key_cols=["conv_id", "turn_idx"])
    out = sinks.reconstruct_json(enc, lt, vd, ["conv_id", "turn_idx"]).collect()
    first = json.loads(out[0]["json"])
    assert set(first) == {"conv_id", "turn_idx", "text"}
    want = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in t.collect()
    }
    for r in out[:50]:
        j = json.loads(r["json"])
        assert want[(j["conv_id"], j["turn_idx"])] == j["text"]

"""Multi-format source/sink round-trips into the encode pipeline."""

from __future__ import annotations

import pyspark.sql.functions as F

from deltoid_spark import sources
from deltoid_spark.fixtures import codegen
from deltoid_spark.jobs import decode, encode, verify


def test_json_source_roundtrip(spark, tmp_path_factory):
    pdf = codegen.generate(2_000)
    src = str(tmp_path_factory.mktemp("json_src"))
    spark.createDataFrame(pdf).write.mode("overwrite").json(src)

    df = sources.read_code_table(spark, src, format="json")
    assert df.count() == len(pdf)
    out = str(tmp_path_factory.mktemp("json_enc"))
    encode(spark, df, out, target_rows=500)
    assert verify(spark, df, decode(spark, out))["ok"]


def test_csv_source_reads(spark, tmp_path_factory):
    pdf = codegen.generate(500)
    src = str(tmp_path_factory.mktemp("csv_src"))
    spark.createDataFrame(pdf).write.mode("overwrite").option("header", "true").option(
        "escape", '"'
    ).csv(src)
    df = sources.read_code_table(spark, src, format="csv")
    assert df.count() == len(pdf)
    # CSV cannot carry every byte sequence losslessly; schema must hold
    assert df.columns == sources.COLUMNS


def test_decoded_sink(spark, tmp_path_factory):
    pdf = codegen.generate(500)
    df = spark.createDataFrame(pdf)
    dest = str(tmp_path_factory.mktemp("sink"))
    sources.write_decoded(df, dest + "/p", format="parquet")
    back = spark.read.parquet(dest + "/p")
    assert back.count() == len(pdf)
    assert back.filter(F.col("content").isNull()).count() == 0


def test_package_zip_self_contained(tmp_path):
    """The spark-submit --py-files artifact imports and runs standalone."""
    import subprocess
    import sys

    from deltoid_spark.session import package_zip

    zip_path = package_zip()
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import pandas as pd; "
        "from deltoid_spark.kernels import encode_block, decode_block; "
        "s = pd.Series(['a','b','a'], dtype=object); "
        "assert decode_block(encode_block(s, 'dict')).to_pylist() == s.tolist(); "
        "print('zip-ok')" % zip_path
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=str(tmp_path)
    )
    assert out.returncode == 0 and "zip-ok" in out.stdout, out.stderr[-500:]


def test_orc_roundtrip(spark, tmp_path_factory):
    from deltoid_spark import sources
    from deltoid_spark.fixtures import codegen

    pdf = codegen.generate(2_000).head(500)
    df = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("orc")) + "/t"
    sources.write_decoded(df, out, format="orc")
    back = sources.read_code_table(spark, out, format="orc")
    assert back.count() == 500
    assert sorted(back.columns) == sorted(df.columns)


def test_read_raw_tree(spark, tmp_path):
    import os

    from deltoid_spark import sources
    from deltoid_spark.jobs import decode, encode, verify

    files = {
        "src/a.py": "def a():\n    return 1\n",
        "src/deep/b.rs": "fn b() {}\n",
        "README.weird": "not a known language\n",
    }
    for rel, text in files.items():
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(text)

    df = sources.read_raw_tree(spark, str(tmp_path), repo="org/raw", commit="c0")
    rows = {r["path"]: r for r in df.collect()}
    assert set(rows) == set(files)
    assert rows["src/a.py"]["content"] == files["src/a.py"]
    assert rows["src/a.py"]["lang"] == "python"
    assert rows["src/deep/b.rs"]["lang"] == "rust"
    assert rows["README.weird"]["lang"] == "unknown"

    # the raw tree feeds straight into the encoder
    out = str(tmp_path / "_state")
    encode(spark, df, out, target_rows=100)
    assert verify(spark, df, decode(spark, out))["ok"]

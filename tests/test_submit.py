"""The spark-submit --py-files ship path (the BASELINE.json deployment
contract), exercised for real: package solr_spark into a zip, launch
``spark-submit --py-files solr_spark.zip scripts/submit_index.py`` in a
fresh JVM, and check the job builds a complete index and answers a BM25
query. This is the deployment analog of the reference's bin/solr start
→ index → query smoke (reference: solr/bin/solr, JettySolrRunner) — the
point is that the library runs from the shipped artifact, not from the
repo checkout.

Kept deliberately small (500 docs, local[2]) — one subprocess JVM is
the dominant cost, ~1 min.
"""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_py_files(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        # pyspark always ships the launcher script next to the python
        # package; fall back to that before skipping.
        import pyspark

        cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
        if os.path.exists(cand):
            spark_submit = cand
    if spark_submit is None:
        pytest.skip("spark-submit launcher not found")

    # package the library exactly like scripts/submit.sh does
    zip_path = str(tmp_path / "solr_spark_pyfiles.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(REPO, "solr_spark")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))

    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "idx")
    env = dict(os.environ)
    # the job must import solr_spark from the zip, not the checkout
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            os.path.join(REPO, "scripts", "submit_index.py"),
            "--corpus", corpus,
            "--out", out,
            "--gen-docs", "500",
            "--bucket-docs", "256",
            "--query", "public static license",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # NOT the repo root: the checkout must not be importable
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(
        (l for l in proc.stdout.splitlines() if l.startswith("SUBMIT_RESULT ")),
        None,
    )
    assert line, proc.stdout[-2000:]
    report = json.loads(line[len("SUBMIT_RESULT "):])
    assert report["n_docs"] == 500
    assert report["n_terms"] > 100
    assert report["postings_bytes"] > 0
    assert report["hits"], "BM25 query over the submitted build returned no hits"
    scores = [h["score"] for h in report["hits"]]
    assert scores == sorted(scores, reverse=True)
    # the shipped build is a complete index layout on disk
    for part in ("postings", "docs", "bucket_stats", "terms", "meta.json"):
        assert os.path.exists(os.path.join(out, part)), part

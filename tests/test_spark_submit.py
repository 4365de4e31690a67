"""True spark-submit --py-files packaging test (BASELINE.json:14 —
"packaged for spark-submit --py-files"): build dist/pipeline.zip with
tools/package.py, launch a REAL spark-submit subprocess against a tiny
generated corpus with the repo dir deliberately NOT on PYTHONPATH, and
check the pipeline runs end-to-end from the zip alone."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def test_spark_submit_py_files_end_to_end(tmp_path):
    sys.path.insert(0, REPO)
    from tools.package import build

    zip_path, runner = build()
    assert os.path.exists(zip_path) and os.path.exists(runner)

    out_dir = str(tmp_path / "sinks")
    corpus = str(tmp_path / "corpus.parquet")
    env = dict(os.environ)
    # the job must resolve the package from the zip, not the repo
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    r = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[4]",
            "--py-files", zip_path,
            runner,
            "--input", corpus,
            "--output", out_dir,
            "--gen-requests", "300",
            "--gen-days", "2",
            "--shuffle-partitions", "4",
        ],
        cwd=str(tmp_path),  # not the repo root
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    # the job prints exactly one JSON result line on stdout
    json_lines = [
        ln for ln in r.stdout.splitlines() if ln.startswith("{") and ln.endswith("}")
    ]
    assert len(json_lines) == 1, r.stdout[-2000:]
    result = json.loads(json_lines[0])
    assert result["metric"] == "pipeline_sequences_per_sec"
    assert result["rows"] > 0
    assert result["value"] > 0
    assert result["summary"]["days_parsed"] == 2
    # all sinks landed under the output root
    sinks = set(os.listdir(out_dir))
    assert "metrics" in sinks and "_lineage" in sinks
    assert "git_operations" in sinks and "request_durations" in sinks


def test_workers_import_the_package_from_any_directory(tmp_path):
    """A driver that finds the package only through its own sys.path, run
    from another directory with PYTHONPATH unset, still runs the parse's
    Python tasks: build_session puts the checkout on the workers' path."""
    script = tmp_path / "drive.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from stash_log_parser_spark.functions.parse import parse_corpus\n"
        "from stash_log_parser_spark.session import build_session\n"
        "spark = build_session(master='local[2]', shuffle_partitions=2)\n"
        f"df = spark.read.parquet({os.path.join(REPO, 'data', 'log_corpus_small.parquet')!r})\n"
        "print('rows', parse_corpus(df).count(), flush=True)\n"
        "spark.stop()\n"
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    r = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert any(ln.startswith("rows ") and int(ln.split()[1]) > 0 for ln in r.stdout.splitlines()), r.stdout

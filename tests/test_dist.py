"""The ``make dist`` zip is a complete package: with nothing but the zip
on the path (as ``spark-submit --py-files`` gives the workers), the NER
kernel finds its gazetteer fixtures and annotates exactly as it does
in-repo."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from transner_spark.kernels.ner_pipeline import ner_batch

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# cities (tagged by the lexicon classifier, which reads the cities
# fixture) and religions (the religions-fixture gazetteer)
SENTENCES = [
    "Mario Rossi ha visitato Berlin.",
    "La sede di Olivetti si trova a New York.",
    "She studied Shinto and Taoism in Tokyo.",
]
PROGRAM = """
import json, sys
import transner_spark
from transner_spark.kernels.ner_pipeline import ner_batch
print(json.dumps([transner_spark.__file__, ner_batch(json.loads(sys.argv[1]))]))
"""


def test_dist_zip_annotates_outside_the_repo(tmp_path):
    subprocess.run(
        ["make", "-s", "-C", REPO, "dist", f"DIST={tmp_path}"],
        check=True,
        capture_output=True,
    )
    zip_path = str(tmp_path / "transner_spark.zip")
    workdir = tmp_path / "elsewhere"
    workdir.mkdir()
    env = {**os.environ, "PYTHONPATH": zip_path}
    proc = subprocess.run(
        [sys.executable, "-c", PROGRAM, json.dumps(SENTENCES)],
        cwd=workdir,
        env=env,
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr
    package_file, got = json.loads(proc.stdout)
    assert package_file.startswith(zip_path + os.sep)
    want = json.loads(json.dumps(ner_batch(SENTENCES)))
    assert got == want
    values = {(e["type"], e["value"]) for r in want for e in r["entities"]}
    assert {("LOCATION", "Berlin"), ("RELIGION", "Shinto")} <= values

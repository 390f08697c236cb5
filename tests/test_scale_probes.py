"""tools/scale_probes.py is the one scale-probe script: ``--list`` starts
no Spark and names every probe that BASELINE.md cites, under the round
BASELINE.md cites it for."""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).parent.parent


def _run(*args):
    # a JAVA_HOME with no java fails any JVM launch, so a listing that
    # tried to start Spark would not exit 0
    env = dict(os.environ, JAVA_HOME="/nonexistent")
    return subprocess.run(
        [sys.executable, str(ROOT / "tools" / "scale_probes.py"), *args],
        capture_output=True, text=True, timeout=120, env=env,
    )


def test_list_resolves_every_probe_baseline_cites():
    res = _run("--list")
    assert res.returncode == 0, res.stderr
    listed = {tuple(line.split()) for line in res.stdout.splitlines()}
    rounds = {r for r, _ in listed}
    baseline = (ROOT / "BASELINE.md").read_text()
    cited_rounds = {f"r{n}" for n in re.findall(r"scale_probes_r(\d+)\.py", baseline)}
    assert cited_rounds and cited_rounds <= rounds, sorted(cited_rounds - rounds)
    cited = {
        (f"r{n}", name)
        for n, name in re.findall(
            r"scale_probes_r(\d+)\.py`?\s+`?([a-z][a-z0-9_]*)", baseline
        )
    }
    assert cited and cited <= listed, sorted(cited - listed)
    # probes BASELINE.md records results for by name
    named = {
        "kmeans_knee", "curation_pipeline_100k", "linear_fit_10m",
        "winnow_long_docs", "paragraph_dedup_10x", "winnow_cross_10x",
        "streaming_topk_1m", "quality_buckets_10x", "ccnet_10x",
        "char_entropy_10x", "streaming_quality_buckets_1m",
        "ann_rerank_10x", "merge_fallback_1m",
    }
    assert named <= {name for _, name in listed}
    assert len({name for _, name in listed}) == len(listed) == 50
    assert not list((ROOT / "tools").glob("scale_probes_r*.py"))


def test_unknown_probe_is_refused_before_spark_starts():
    res = _run("no_such_probe")
    assert res.returncode == 2
    assert "no_such_probe" in res.stderr

"""jobs/dedupe_corpus.py CLI smoke: the spark-submit batch surface runs
end-to-end in BOTH modes. Engine mode matters most — it routes
candidate_pairs through the SimHash-prefilter branch with the pipeline's
key-funnel Observation attached, the composition a round-5 review found
broken (hot-keys attribute lost to the gate's DataFrame reassignment)
while every pipeline test used parity config.

Same one-subprocess/one-JVM trick as test_cli_detect: build_session is
patched to hand every main() call the same live session."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)

_SCRIPT = r'''
import io, json, sys
sys.path.insert(0, {repo!r})
import dedup.session as sess

spark = sess.build_session("cli-corpus-test", master="local[4]",
                           shuffle_partitions=8)
spark.stop = lambda: None
sess.build_session = lambda *a, **k: spark

sys.path.insert(0, {repo!r} + "/jobs")
import dedupe_corpus

def run(argv):
    sys.argv = ["dedupe_corpus.py"] + argv
    buf, old = io.StringIO(), sys.stdout
    sys.stdout = buf
    try:
        dedupe_corpus.main()
    finally:
        sys.stdout = old
    return json.loads(buf.getvalue().splitlines()[-1])

first = {{}}
for tag, mode in (("parity", []), ("engine", ["--engine-mode"])):
    out = run(["--synth", "80", "--workdir",
               {tmp!r} + "/wd_" + tag] + mode)
    assert out["n_docs"] == 80, (tag, out)
    # synth plants duplicate families: some docs must co-cluster
    assert 0 < out["n_clusters"] < 80, (tag, out)
    assert out["n_dup_docs"] > 0, (tag, out)
    first[tag] = out

# the two modes carry distinct job keys (config identity)
k1 = run(["--synth", "80", "--workdir", {tmp!r} + "/wd_parity"])
k2 = run(["--synth", "80", "--workdir", {tmp!r} + "/wd_engine",
          "--engine-mode"])
assert k1["job_key"] != k2["job_key"]
# and the resumed re-runs reproduce the first runs exactly
for tag, k in (("parity", k1), ("engine", k2)):
    assert k["job_key"] == first[tag]["job_key"], (tag, k)
    assert k["n_clusters"] == first[tag]["n_clusters"], (tag, k)
    assert k["n_dup_docs"] == first[tag]["n_dup_docs"], (tag, k)
print("CORPUS_CLI_OK")
'''


def test_cli_corpus_both_modes(tmp_path):
    script = _SCRIPT.format(repo=_REPO, tmp=str(tmp_path))
    proc = subprocess.run([sys.executable, "-c", script],
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "CORPUS_CLI_OK" in proc.stdout

"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

1. The generator: the same seed gives byte-identical inputs, and another
   seed gives different inputs of the same size, for every workload.
2. The trace: a traced run of fame_keyed_batch and of fame_wide_script
   passes its `trace.layers_sum_to_pass` check, i.e. parse + schedule +
   build + catalyst + exec.action come to within 10% of the pass wall time.

Exits non-zero on the first failure.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from run import BUILD, tree_hash  # noqa: E402


def sizes(manifest):
    keep = ("rows", "rows_per_file", "files")
    out = {k: manifest[k] for k in keep if k in manifest}
    for k in ("reference", "exact_groups", "near_pairs"):
        if k in manifest:
            out[k] = len(manifest[k])
    if "script" in manifest:
        out["script_lines"] = len(manifest["script"].splitlines())
    return out


def check_generator():
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=BUILD)
    try:
        for w in gen.GENERATORS:
            a, b, c = (os.path.join(tmp, f"{w}-{k}") for k in "abc")
            ma, mb = gen.generate(w, 7, a), gen.generate(w, 7, b)
            mc = gen.generate(w, 8, c)
            assert tree_hash(a) == tree_hash(b), f"{w}: seed 7 twice gave different bytes"
            assert ma == mb, f"{w}: seed 7 twice gave different manifests"
            assert tree_hash(a) != tree_hash(c), f"{w}: seeds 7 and 8 gave the same inputs"
            # the wide script's line count includes its random `date` masks
            sa, sc = sizes(ma), sizes(mc)
            if w == "fame_wide_script":
                sa.pop("script_lines"), sc.pop("script_lines")
            assert sa == sc, f"{w}: seeds 7 and 8 differ in size: {sa} vs {sc}"
            print(f"generator {w}: ok {sa}")
    finally:
        shutil.rmtree(tmp)


def check_trace():
    for w in ("fame_keyed_batch", "fame_wide_script"):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", "7", "--seconds", "4", "--trace", "1"],
                           capture_output=True, text=True)
        assert p.returncode == 0, f"{w}: traced run failed\n{p.stderr[-3000:]}"
        line = [ln for ln in p.stderr.splitlines() if "trace.layers_sum_to_pass" in ln]
        assert line and ": ok" in line[0], f"{w}: {line or p.stderr[-3000:]}"
        share = json.loads(p.stdout.splitlines()[-1])["metrics"]["trace.layer_sum_share"]
        print(f"trace {w}: ok, layers sum to {share['value']:.3f} of the pass")


if __name__ == "__main__":
    check_generator()
    check_trace()

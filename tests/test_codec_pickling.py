"""The codec pickling contract: executors never import this package.

Every codec row's mapInPandas kernels are shipped to Python workers by
cloudpickle, by value, so a worker needs numpy/pandas and the stdlib
but never ``simple_map_reduce_ruuner_spark``. The test suite and the
benchmarks run with the repo on the workers' path, where a kernel that
reaches a package global by reference still works; here every kernel
runs in a child interpreter whose cwd and sys.path exclude the repo,
and must give the same rows as in this process.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import pandas as pd
from pyspark import cloudpickle

from simple_map_reduce_ruuner_spark.operators.codecs import CODECS, kernels

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "simple_map_reduce_ruuner_spark"
DOC = pd.DataFrame({"doc_id": [7], "payload": [b"pickle me, caf\xc3\xa9!"]})

# Runs in the child: drop the repo from sys.path, prove the package is
# not importable, then round-trip the one-doc batch through every
# unpickled (encode, decode) pair and send the decoded rows back.
_CHILD = f"""
import importlib.util, os, pickle, sys

repo = {REPO!r}
sys.path[:] = [
    p for p in sys.path
    if os.path.realpath(p or os.getcwd()) != os.path.realpath(repo)
]
assert importlib.util.find_spec({PKG!r}) is None, "package importable"
kernels, doc = pickle.load(sys.stdin.buffer)
rows = {{}}
for name, (encode, decode) in kernels.items():
    rows[name] = out = []
    for frame in decode(encode(iter([doc]))):
        out.extend(map(tuple, frame.itertuples(index=False)))
assert {PKG!r} not in sys.modules, "a kernel imported the package"
pickle.dump(rows, sys.stdout.buffer)
"""


def _rows(encode, decode) -> list[tuple]:
    out = []
    for frame in decode(encode(iter([DOC]))):
        out.extend(map(tuple, frame.itertuples(index=False)))
    return out


def test_every_codec_kernel_runs_without_the_package(tmp_path):
    shipped = cloudpickle.dumps(
        ({name: kernels(codec) for name, codec in CODECS.items()}, DOC)
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD],
        input=shipped,
        capture_output=True,
        cwd=tmp_path,
        env=env,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-3000:]
    got = pickle.loads(proc.stdout)
    assert set(got) == set(CODECS)
    for name, codec in CODECS.items():
        want = _rows(*kernels(codec))
        assert want, name
        assert got[name] == want, name

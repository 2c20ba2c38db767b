#!/usr/bin/env python3
"""Re-derive registry_expected.tsv: each slice row's output row count and
digest on the fixed corpus of gen_corpus.py.

    python3 perfbench/derive_expected.py

Run it only after the slice rows have passed the DuckDB oracle comparison on
that same corpus, so the recorded values are the oracles' answers:

    python3 perfbench/gen_corpus.py <dir>
    SPARK_GRAFT_ONLY=<slice rows> sbt 'runMain graft.Verify <dir> <out>'
    python3 tools/parity_check.py <dir> <out>     # expect N/N pass
"""
import os
import shutil
import subprocess
import sys

import run

work = os.path.join(run.BUILD, "work", "derive")
shutil.rmtree(work, ignore_errors=True)
os.makedirs(work)
run.build(run.source_digest())
corpus = os.path.join(work, "corpus")
subprocess.run([sys.executable, os.path.join(run.HERE, "gen_corpus.py"), corpus], check=True)
out = os.path.join(work, "expected.tsv")
run.run_jvm(["--derive", out, "--corpus", corpus, "--work", work], work)
with open(os.path.join(run.HERE, "registry_expected.tsv"), "w") as fh:
    fh.write("# <query> <output rows> <digest>; derived by derive_expected.py on the\n"
             "# gen_corpus.py corpus after graft.Verify + tools/parity_check.py passed on it\n")
    fh.write(open(out).read())
print(open(os.path.join(run.HERE, "registry_expected.tsv")).read())

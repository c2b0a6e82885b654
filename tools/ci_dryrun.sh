#!/usr/bin/env bash
# Local dry-run of .github/workflows/ci.yml — same steps, same env vars,
# no GitHub runner required (the build sandbox has no Actions executor;
# this is how the workflow logic is verified). Workflow YAML lint lives
# in tests/test_packaging.py (VERDICT r11 item 4 — the suite itself
# guards the CI config); this script runs it early and adds the one step
# the sandbox can't run verbatim: `python -m build` needs pip/network, so
# the metadata check here calls the PEP 517 prepare_metadata hook
# directly. Usage:
#
#   tools/ci_dryrun.sh            # testdata gen + pytest (tests/, seqbench/tests) + sf0.001 oracle
#   tools/ci_dryrun.sh --quick    # testdata gen + YAML lint + smoke pytest
set -euo pipefail
cd "$(dirname "$0")/.."
export PYTHONPATH="$PWD"

# The workflow tests importorskip PyYAML; without this guard a host
# missing PyYAML would skip all three, pytest would exit 0, and a
# malformed workflow edit would ship green — the lint must hard-fail.
python -c "import yaml" || {
  echo "PyYAML is required for the workflow-YAML lint step" >&2; exit 1; }
python -m pytest tests/test_packaging.py -q -k "workflow or benchmark"

# wheel-metadata substitute for the ci.yml build step (offline sandbox)
python - <<'EOF'
import pathlib, sys, tempfile
from setuptools import build_meta
out = tempfile.mkdtemp(prefix="ci_meta_")
try:
    dist_info = build_meta.prepare_metadata_for_build_wheel(out)
    meta = (pathlib.Path(out) / dist_info / "METADATA").read_text()
    how = "prepare_metadata_for_build_wheel"
except SystemExit:
    # setuptools<70 without the `wheel` package can't finish the
    # dist-info step, but its egg_info phase already wrote PKG-INFO
    # with the identical metadata payload — read that instead.
    meta = next(pathlib.Path(out).glob("*.egg-info/PKG-INFO")).read_text()
    how = "egg-info PKG-INFO (no wheel pkg on this host)"
assert "License: Apache-2.0" in meta
assert "License-File: LICENSE" in meta
sys.path.insert(0, ".")
import sequila_native_spark as sq
assert f"Version: {sq.__version__}" in meta
print(f"wheel metadata OK ({how})")
EOF

TD="$(mktemp -d)/testdata"
python tools/gen_testdata.py "$TD" 0.001 0.01
export SEQUILA_TESTDATA="$TD"

if [[ "${1:-}" == "--quick" ]]; then
  python -m pytest tests/test_packaging.py tests/test_golden_parity.py -q
  echo "ci_dryrun --quick OK (testdata generated at $TD)"
  exit 0
fi

python -m pytest tests/ -q
python -m pytest seqbench/tests -q
python tools/check_oracle.py "$TD/sf0.001"
echo "ci_dryrun OK"

#!/usr/bin/env bash
# Pre-commit gate for any change that touches the query registry
# (queries*.py) or an operator module. VERDICT r6 ask #2: the three
# wave-167–169 plan-audit reds landed because the audit was not re-run
# after the round's final waves — this makes the re-run mechanical.
#
# Usage:
#   scripts/preflight.sh                 # driver contract + plan audit (~3 min)
#   scripts/preflight.sh x575 x571 ...   # audit + oracle rows for the
#                                        # named keys at sf0.001, sf0.01
#                                        # and sf0.1 (substring match on
#                                        # the pytest parametrize id)
#
# A wave commit is NOT done until this exits 0.
set -euo pipefail
cd "$(dirname "$0")/.."

python -m pytest tests/test_driver_contract.py tests/test_plan_audit.py -q

if [ "$#" -gt 0 ]; then
  expr=""
  for k in "$@"; do
    expr="${expr:+$expr or }$k"
  done
  for sf in /root/testdata/sf0.{001,01,1}; do
    SPARK_GRAFT_TEST_SF_DIR="$sf" \
      python -m pytest tests/test_queries_oracle.py -q -k "$expr"
  done
fi

echo "preflight OK"

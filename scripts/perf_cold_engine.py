"""perfbench with a new ContractEngine for every validate_resumable call.

    python3 scripts/perf_cold_engine.py --workload dirty_resume --seed 1 --seconds 5 --trace 0

Run from the root of a checkout; takes and prints exactly what
``perfbench/run.py`` does. The CLI builds one engine per process and
validates once, so nothing an engine keeps between calls is ever reused
there. perfbench's ``dirty_resume`` reuses one engine for its warm-up,
its crashed run and its resume. This wrapper gives every
``validate_resumable`` call a fresh engine with the same options, which
is the CLI's traffic; everything else is perfbench unchanged.
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from data_contract_engine_spark import checkpoint  # noqa: E402
from data_contract_engine_spark.engine import ContractEngine  # noqa: E402

_validate_resumable = checkpoint.validate_resumable


def _cold(engine, *args, **kwargs):
    fresh = ContractEngine(
        engine.spark,
        vocab_tables=engine.vocab_tables,
        drift_baseline=engine.drift_baseline,
        drift_baseline_snapshot=engine.drift_baseline_snapshot,
        now_epoch=engine.now_epoch,
        compile_options=engine.compile_options,
    )
    return _validate_resumable(fresh, *args, **kwargs)


checkpoint.validate_resumable = _cold

from perfbench import run  # noqa: E402

if __name__ == "__main__":
    sys.exit(run.main())

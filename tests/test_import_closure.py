"""The three pipelines' entry points load only the paper's core modules:
importing them must not pull in the query registry, the text, graph,
streaming or multimodal code that no pipeline uses."""

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# packages whose __init__ the core may load, and the core modules
_PACKAGES = {"", ".functions", ".kernels", ".operators", ".pipeline", ".sources"}
_CORE_PREFIXES = (".kernels.", ".pipeline.", ".sources.")
_CORE_MODULES = {".functions.encodings", ".functions.genomics", ".operators.interval_join"}


def _allowed(module: str) -> bool:
    rel = module[len("prohap_spark"):]
    return rel in _PACKAGES or rel in _CORE_MODULES or rel.startswith(_CORE_PREFIXES)


def test_pipeline_entry_points_import_only_core_modules():
    # a fresh interpreter: the test session has already imported more
    code = (
        "import sys\n"
        "import prohap_spark.pipeline.run, prohap_spark.pipeline.peptides\n"
        "print('\\n'.join(sorted(m for m in sys.modules"
        " if m == 'prohap_spark' or m.startswith('prohap_spark.'))))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout
    loaded = out.split()
    assert "prohap_spark.pipeline.run" in loaded
    outside = [m for m in loaded if not _allowed(m)]
    assert not outside, f"pipeline imports load non-core modules: {outside}"

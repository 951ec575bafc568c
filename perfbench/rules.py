"""Seeded rule-scoring programs for the ``sparkify_rules`` workload.

Each program scores one lineitem row with eight sequential ``if`` rules
over quantity, extended price and discount; the seed picks every
threshold and weight. Sequential ``if``s are the transpiler's
worst case: each rule doubles the branch tree, so one program emits
2^8 - 1 = 255 ``F.when`` calls and ~17 KB of source, and Catalyst and
Janino compile a 255-arm ``CaseWhen``. Ten rules would exceed Janino's
64 KB method limit, so eight is the largest shape that always compiles.

The programs are written to a real module because ``sparkify`` reads
the function's source with ``inspect.getsource``.
"""

from __future__ import annotations

import importlib.util
import random
import sys
from pathlib import Path

RULES = 8
COLUMNS = ("l_quantity", "l_extendedprice", "l_discount")
ARGS = ("q", "p", "d")
# thresholds drawn inside each column's generated range (datagen.lineitem)
RANGES = {"q": (1.0, 50.0), "p": (1000.0, 100000.0), "d": (0.0, 0.1)}
# rule k tests ARGS[k % 3] and applies UPDATES[k % 3]: every program has
# the same shape, so every op does the same amount of work
UPDATES = ("s + {w}", "s - {w}", "s * {m}")


def program_source(name: str, rnd: random.Random) -> str:
    lines = [f"def {name}(q, p, d):", "    s = 0.0"]
    for k in range(RULES):
        arg = ARGS[k % 3]
        lo, hi = RANGES[arg]
        thr = round(rnd.uniform(lo, hi), 3)
        w = round(rnd.uniform(0.25, 4.0), 2)
        update = UPDATES[k % 3].format(w=w, m=round(1 + w / 10, 3))
        lines += [f"    if {arg} > {thr}:", f"        s = {update}"]
    lines.append("    return s")
    return "\n".join(lines) + "\n"


def write_programs(path: Path, seed: int, count: int) -> list[str]:
    """Write ``count`` seeded programs to ``path``; return their names."""
    rnd = random.Random(seed)
    names = [f"rules_{i}" for i in range(count)]
    path.write_text("\n\n".join(program_source(n, rnd) for n in names))
    return names


def import_module(path: Path):
    spec = importlib.util.spec_from_file_location(path.stem, path)
    module = importlib.util.module_from_spec(spec)
    sys.modules[path.stem] = module
    spec.loader.exec_module(module)
    return module

"""Size ratchet: static counts over the package source that may only fall.

No Spark session.  Each pin is the count the code held when the pin was
last moved; a change that adds an option, a lineage cut or an environment
read has to raise the pin here, in the same diff, where a reviewer sees it.
Lower a pin when a change removes some.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "dggstools_spark"

#: settable options: parameters with a default value (def and lambda)
MAX_DEFAULTED_PARAMS = 473
#: ``.localCheckpoint(...)`` call sites
MAX_LOCAL_CHECKPOINTS = 63
#: ``os.environ`` reads
MAX_ENV_READS = 2


def _counts() -> "tuple[int, int, int]":
    defaults = checkpoints = env = 0
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.Lambda)):
                defaults += len(node.args.defaults) + sum(
                    d is not None for d in node.args.kw_defaults)
            elif (isinstance(node, ast.Call)
                  and isinstance(node.func, ast.Attribute)
                  and node.func.attr == "localCheckpoint"):
                checkpoints += 1
            elif (isinstance(node, ast.Attribute) and node.attr == "environ"
                  and isinstance(node.value, ast.Name)
                  and node.value.id == "os"):
                env += 1
    return defaults, checkpoints, env


def test_package_does_not_grow_options_cuts_or_env_reads():
    defaults, checkpoints, env = _counts()
    assert defaults <= MAX_DEFAULTED_PARAMS, (
        f"{defaults} defaulted parameters > pin {MAX_DEFAULTED_PARAMS}")
    assert checkpoints <= MAX_LOCAL_CHECKPOINTS, (
        f"{checkpoints} localCheckpoint( sites > pin {MAX_LOCAL_CHECKPOINTS}")
    assert env <= MAX_ENV_READS, (
        f"{env} os.environ reads > pin {MAX_ENV_READS}")


def test_counter_sees_the_package():
    # guards the ratchet against passing vacuously on an empty walk
    defaults, checkpoints, env = _counts()
    assert defaults > 0 and checkpoints > 0 and env > 0

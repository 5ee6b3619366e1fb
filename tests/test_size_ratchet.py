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
#: ``{x!r}`` interpolations in f-strings (SQL text) outside ``double_sql``
#: and ``raise`` messages: a repr'd float in SQL is a DECIMAL literal that
#: DuckDB can misround (CLAUDE.md constraint 8); write it with double_sql
MAX_BARE_FLOAT_INTERPOLATIONS = 39


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


def _bare_float_interpolations() -> int:
    n = 0
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        skip = {id(x) for node in ast.walk(tree)
                if isinstance(node, ast.Raise)
                or (isinstance(node, ast.FunctionDef) and node.name == "double_sql")
                for x in ast.walk(node)}
        n += sum(isinstance(v, ast.FormattedValue) and v.conversion == ord("r")
                 for node in ast.walk(tree)
                 if isinstance(node, ast.JoinedStr) and id(node) not in skip
                 for v in node.values)
    return n


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


def test_sql_does_not_grow_bare_float_interpolations():
    n = _bare_float_interpolations()
    assert 0 < n <= MAX_BARE_FLOAT_INTERPOLATIONS, (
        f"{n} {{x!r}} interpolations in SQL f-strings > pin "
        f"{MAX_BARE_FLOAT_INTERPOLATIONS}; use encode_sql.double_sql")

"""The package reads deployment settings from the environment and nothing
else: a behaviour switch read from the environment (a second write path,
a planner toggle) forks the hot path where no test or benchmark selects
it. Adding one needs a deliberate edit of ``DEPLOYMENT_SETTINGS``."""

import ast
import pathlib

import ds_floodexposure_monitoring_spark

PKG = pathlib.Path(ds_floodexposure_monitoring_spark.__file__).parent
DEPLOYMENT_SETTINGS = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"}


def _is_os_attr(node, attr):
    return (
        isinstance(node, ast.Attribute)
        and node.attr == attr
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_keys(tree):
    """Key expressions of ``os.environ.get(k)``, ``os.environ[k]`` and
    ``os.getenv(k)``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and node.args and (
            _is_os_attr(node.func, "getenv")
            or (
                isinstance(node.func, ast.Attribute)
                and node.func.attr == "get"
                and _is_os_attr(node.func.value, "environ")
            )
        ):
            yield node.args[0]
        elif isinstance(node, ast.Subscript) and _is_os_attr(node.value, "environ"):
            yield node.slice


def test_package_reads_only_deployment_settings():
    keys = set()
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for key in _env_keys(tree):
            assert isinstance(key, ast.Constant) and isinstance(key.value, str), (
                f"{path.relative_to(PKG)}:{key.lineno}: non-literal env key"
            )
            keys.add(key.value)
    assert keys == DEPLOYMENT_SETTINGS

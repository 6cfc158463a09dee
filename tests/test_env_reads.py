"""The engine reads configuration from the environment in few, known
places: behaviour must not be reachable only through an env var.

Allowed: the ``SPARK_CRAWLER_*`` layer in config.py and the deployment
setting ``SPARK_GRAFT_DRIVER_MEM`` in session.py.
"""

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "crawler_spark"
ENV_READ = re.compile(r"os\.environ|getenv")
ALLOWED = {
    "config.py": None,  # any name: the config layer owns the prefix
    "session.py": {"SPARK_GRAFT_DRIVER_MEM"},
}


def test_env_reads_are_allowlisted():
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        allowed = ALLOWED.get(rel, set())
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if not ENV_READ.search(line) or allowed is None:
                continue
            names = set(re.findall(r"[\"']([A-Z][A-Z0-9_]*)[\"']", line))
            if not names or not names <= allowed:
                bad.append(f"{rel}:{no}: {line.strip()}")
    assert not bad, "unexpected env reads:\n" + "\n".join(bad)

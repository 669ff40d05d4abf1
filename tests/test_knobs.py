"""Every ``TRINITY_*`` environment variable the engine reads is listed in
README.md's "Environment settings" section, and the list names no variable
the engine has dropped — a new knob shows up as a failing test and a README
diff, not as a silent lookup."""

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
KNOB = re.compile(r"TRINITY_[A-Z_]+")


def _readme_knobs() -> set[str]:
    text = (ROOT / "README.md").read_text()
    section = text.split("## Environment settings", 1)[1].split("\n## ", 1)[0]
    return set(KNOB.findall(section))


def test_env_knobs_match_readme():
    in_code = {
        name
        for path in (ROOT / "trinity_spark").rglob("*.py")
        for name in KNOB.findall(path.read_text())
    }
    assert in_code == _readme_knobs()

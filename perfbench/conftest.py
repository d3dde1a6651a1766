"""Keep the tests' scratch files inside the checkout, as the benchmark does."""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def pytest_configure(config):
    if config.option.basetemp is None:
        work = os.path.join(ROOT, ".perfbench_work")
        os.makedirs(work, exist_ok=True)
        config.option.basetemp = os.path.join(work, "pytest")

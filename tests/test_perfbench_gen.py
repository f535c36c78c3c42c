"""The benchmark generator's determinism tests (``perfbench/test_gen.py``),
collected here so the default test run covers them."""

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)

from test_gen import (  # noqa: E402,F401
    test_another_seed_gives_other_files,
    test_generator_process_lands_the_same_files,
    test_same_seed_gives_identical_files,
)

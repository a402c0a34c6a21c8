"""``__spark_entry__`` registry checks that need no Spark session."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

# A CORRECTNESS_rN.json board records at most this many queries.
BOARD_CAP = 50


def test_every_query_has_exactly_one_oracle():
    assert set(entry.queries()) == set(entry.oracle_sql())


def test_registry_fits_the_board():
    assert len(entry.queries()) <= BOARD_CAP

"""The shared increment log (operators/versioned_index.py): increments
order by number, not by name."""

from __future__ import annotations

from windowsession_using_kafka_flink_docker_spark.operators.versioned_index import (
    compact_components,
    increments,
    read_component,
    write_increment,
)


def test_compaction_keeps_the_numerically_newest_increment(
        spark, tmp_path_factory):
    """Past batch id 99,999 the leaf names outgrow the 5-digit padding:
    ``inc=100001`` is the newest increment (the one a crash-replayed
    batch overwrites), although it sorts before ``inc=99999`` as a
    string. Compaction must fold 99999 and 100000 and leave 100001
    unfolded, with every row still served once."""
    path = str(tmp_path_factory.mktemp("numeric_incs"))
    for inc in (99999, 100000, 100001):
        write_increment(spark.createDataFrame([(inc,)], "n BIGINT"),
                        path, "c", inc)
    assert increments(path, "c") == ["inc=99999", "inc=100000",
                                     "inc=100001"]

    assert compact_components(spark, path, {"c": ()}, "test") == 2
    assert increments(path, "c") == ["inc=00000", "inc=100001"]
    rows = read_component(spark, path, "c", increments(path, "c"))
    assert sorted(r.n for r in rows.collect()) == [99999, 100000, 100001]

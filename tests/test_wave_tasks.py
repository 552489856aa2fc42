"""Wave sizing: each extraction wave runs one Python task per core
(``min(parts in the wave, defaultParallelism)``), not
``spark.sql.shuffle.partitions`` tasks. Read from the plan of the stage's
input: ``Exchange hashpartitioning(part_id, N), REPARTITION_BY_NUM``,
which AQE does not coalesce."""

import re

from pdf_parser_spark import pipeline


def _wave_task_counts(spark, corpus_df, out_root, monkeypatch, capsys, **kw):
    inputs = []
    real = pipeline.extract_stage

    def recording(df):
        inputs.append(df)
        return real(df)

    monkeypatch.setattr(pipeline, "extract_stage", recording)
    stats = pipeline.run_extraction(spark, corpus_df, out_root, run_id="w", **kw)
    counts = []
    for df in inputs:
        capsys.readouterr()
        df.explain()
        plan = capsys.readouterr().out
        (n,) = re.findall(r"hashpartitioning\(part_id#\d+, (\d+)\)", plan)
        counts.append(int(n))
    return stats, counts


def test_one_wave_runs_one_task_per_core(spark, corpus_df, tmp_path, monkeypatch, capsys):
    slots = spark.sparkContext.defaultParallelism
    stats, counts = _wave_task_counts(
        spark, corpus_df, str(tmp_path / "out"), monkeypatch, capsys, n_parts=64
    )
    assert stats.waves_run == 1 and stats.docs_processed == corpus_df.count()
    assert counts == [min(64, slots)]


def test_small_waves_run_one_task_per_part(spark, corpus_df, tmp_path, monkeypatch, capsys):
    stats, counts = _wave_task_counts(
        spark, corpus_df, str(tmp_path / "out"), monkeypatch, capsys,
        n_parts=8, waves=4,
    )
    assert stats.waves_run == 4 and stats.parts_processed == 8
    assert counts == [2, 2, 2, 2]

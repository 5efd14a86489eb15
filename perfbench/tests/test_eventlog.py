"""The event-log parser and job attribution, on a small hand-written log."""

import os

import pytest

from tracing import BATCH_SPAN, attribute_jobs, attribute_worker_spans, parse_event_log

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


def span(i, name, start, end, parent=None, req=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent,
            "req": req, "attrs": {}}


def test_parser_sums_tasks_per_job_and_reads_properties():
    jobs = {j["id"]: j for j in parse_event_log(FIXTURE)}
    assert sorted(jobs) == [0, 1, 2, 3, 4]
    j0 = jobs[0]
    assert j0["batch"] == 0 and j0["span"] == 2
    assert j0["tasks"] == 2
    assert j0["exec_s"] == pytest.approx(0.5)
    assert j0["scan_exec_s"] == pytest.approx(0.5)
    assert j0["shuffle_write"] == 1500
    assert j0["input_bytes"] == 8000 and j0["input_records"] == 80
    assert (j0["submit"], j0["end"]) == (1000.0, 1000.45)
    # stage 0 is listed again by job 2 (skipped there): it stays with job 0
    assert jobs[2]["tasks"] == 1
    assert jobs[2]["shuffle_read"] == 1500 and jobs[2]["output_bytes"] == 7000
    assert jobs[1]["batch"] is None and jobs[1]["span"] is None


def test_jobs_attributed_to_batches_by_property_tag_or_overlap():
    jobs = parse_event_log(FIXTURE)
    spans = [
        span(1, BATCH_SPAN, 999.9, 1001.0, req=0),  # query 1, batch 0
        span(2, "lake.merge.merge_change_batch", 1000.0, 1000.95, parent=1, req=0),
        span(3, "lake.table.write_files", 1000.4, 1000.95, parent=2, req=0),
        span(7, BATCH_SPAN, 1004.9, 1005.5, req=0),  # query 2 restarts at batch 0
        span(9, "maintenance.compact_bucket_range", 1005.9, 1006.6),
    ]
    attribute_jobs(jobs, spans)
    by_id = {j["id"]: j["batch_span"] for j in jobs}
    assert by_id[0] == 1 and by_id[2] == 1  # batch-id property, first query
    assert by_id[1] == 1  # untagged worker-thread job: overlap
    assert by_id[3] == 7  # same batch id, later query: overlap picks it
    assert by_id[4] is None  # a background fold belongs to no batch


def test_worker_spans_take_the_overlapping_batch_request():
    spans = [
        span(1, BATCH_SPAN, 0.0, 2.0, req=5),
        span(2, BATCH_SPAN, 2.0, 4.0, req=6),
        span(3, "lake.fsio.parquet_footer", 2.5, 2.6),
        span(4, "lake.table.current", 1.0, 1.1, parent=1, req=5),
    ]
    attribute_worker_spans(spans)
    assert spans[2]["req"] == 6
    assert spans[3]["req"] == 5

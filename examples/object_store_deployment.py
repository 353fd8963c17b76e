#!/usr/bin/env python
"""Object-store deployment: every manifest commit rides S3-style
conditional PUTs through real boto3 — the exact configuration a
100 TB cluster uses, runnable locally.

Two module-level flips move BOTH storage layers (continuous-view
matrels and persisted operator indexes) from posix-rename manifests
to numbered conditional-PUT objects:

    manifestio.DEFAULT_MANIFEST_FORMAT = "condput"
    manifestio.CLIENT_FACTORY = lambda d: S3ObjectClient("bucket", d)

Everything else is unchanged: the engine's commit protocol was
designed against the condput contract from the start (a lost CAS is
a retriable CommitConflict; an ambiguous landed-but-reply-lost PUT
resolves by head re-read; GC is advisory deletes), so the flip is
configuration, not code.

This example stands up the test suite's in-process S3 subset
(tests/s3http_fake.py — stdlib http.server speaking conditional PUT
/ ListObjectsV2 / GET / DELETE) so genuine botocore signing and
error parsing run without network, then:

  1. runs a continuous view end-to-end with all matrel manifests in
     the "bucket",
  2. injects an ambiguous manifest PUT (landed server-side, 500
     reply) mid-stream and shows the batch applies exactly once,
  3. pins the view for a training run and shows the pin riding the
     object-store manifests across later ingest.

Against real S3/MinIO/R2, replace the fake's endpoint_url with the
real endpoint (or drop it entirely for AWS) — nothing else changes.

Run: python examples/object_store_deployment.py
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    root_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root_dir)
    sys.path.insert(0, os.path.join(root_dir, "tests"))

    import pipelinedb_spark.manifestio as manifestio
    from pipelinedb_spark import PipelineContext, get_spark
    from pipelinedb_spark.manifestio import S3ObjectClient
    from s3http_fake import S3HttpFake

    os.environ.setdefault("AWS_ACCESS_KEY_ID", "example")
    os.environ.setdefault("AWS_SECRET_ACCESS_KEY", "example")
    os.environ.setdefault("AWS_DEFAULT_REGION", "us-east-1")
    os.environ.setdefault("AWS_EC2_METADATA_DISABLED", "true")

    spark = get_spark("object_store_deployment")
    spark.sparkContext.setLogLevel("ERROR")

    with S3HttpFake() as fake:
        # ---- the deployment flip -----------------------------------
        manifestio.DEFAULT_MANIFEST_FORMAT = "condput"
        manifestio.CLIENT_FACTORY = lambda d: S3ObjectClient(
            "training-bucket", os.path.abspath(d),
            endpoint_url=fake.endpoint_url, region_name="us-east-1")

        ctx = PipelineContext(spark, num_buckets=8,
                              track_output_streams=False)
        ctx.create_stream("events", "user string, amount double")
        ctx.create_view(
            "spend",
            "SELECT user, count(*) AS n, "
            "sum(CAST(amount AS DECIMAL(38,6))) AS total "
            "FROM events GROUP BY user")

        ctx.insert("events", [{"user": "ada", "amount": 3.5},
                              {"user": "bob", "amount": 1.0}])
        print("after batch 1:",
              sorted(tuple(r) for r in ctx.read_view("spend").collect()))

        # ---- ambiguity drill: the PUT lands, the reply is a 500 ----
        fake.fail_next("PUT", status=500, code="InternalError",
                       key_contains="m0", apply_first=True)
        ctx.insert("events", [{"user": "ada", "amount": 2.5}])
        rows = sorted(tuple(r) for r in ctx.read_view("spend").collect())
        print("after ambiguous-commit batch 2:", rows)
        assert any(r[0] == "ada" and r[1] == 2 for r in rows), \
            "batch must apply exactly once"

        # ---- training-run pin on object-store manifests ------------
        ctx.pin_view("spend", "run-2026-08-16")
        ctx.insert("events", [{"user": "ada", "amount": 100.0}])
        pinned = sorted(tuple(r) for r in
                        ctx.read_view_pinned("spend",
                                             "run-2026-08-16").collect())
        print("pinned snapshot (after more ingest):", pinned)
        assert pinned == rows

        manifests = sorted(k for (_b, k) in fake.objects
                           if "_manifests" in k)
        print(f"{len(manifests)} manifest objects in the bucket, e.g.",
              manifests[-1].rsplit('/', 2)[-2:])
        ctx.close()
    print("OK")


if __name__ == "__main__":
    main()

"""The serving process of ``serve_under_ingest``.

    python3 serve_proc.py <root> <csv artifact dir> <snapshot dir> <api key>

Starts ``serving.http_server.serve_export`` over the snapshot table and the
CSV artifact, prints the bound port on one line, and serves until its
standard input closes.
"""

from __future__ import annotations

import sys


def main() -> int:
    root, artifact, snapshot_dir, key = sys.argv[1:5]
    sys.path.insert(0, root)
    from petfinder_database_distributor_spark.serving.http_server import serve_export

    server = serve_export(artifact, key, snapshot_dir=snapshot_dir)
    print(server.server_address[1], flush=True)
    sys.stdin.read()
    server.shutdown()
    server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())

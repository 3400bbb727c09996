"""Pluggable shared-storage layer for the chunk handoff.

The reference's deployment story uploads partition files to a blob store
between phases (reference README.md:60-67,78-84: mappers upload their
partition files to S3, reducers download them). The cluster-real analog in
this engine: the last Python stage of ``Job.shuffle_to_files`` publishes
each partition's chunk file straight to shared storage and returns one
(partition, file, rows) row; the driver collects those rows and publishes a
``_MANIFEST.json`` built from them (``chunk_datasource.publish_chunk`` and
``commit_generation``, the same two functions behind
``df.write.format("mr_chunks")``, whose tasks report through a
``WriterCommitMessage`` instead). The partition->path map is then read from
the manifest — never from a directory listing — so the handoff works
against any storage a backend can reach.

A backend is any object with five small operations::

    makedirs(dir_uri)                  # idempotent
    exists(uri) -> bool
    read_text(uri) -> str
    write_text_atomic(uri, text)       # readers never see a partial file
    put_file_atomic(local_path, uri)   # publish a finished local file

plus an optional ``delete(uri)`` used to unpublish a failed write's chunks
(backends without it simply skip that cleanup), and an
optional ``list(dir_uri) -> list[str]`` (direct child file NAMES, sorted)
that lets the chunk READERS — batch and streaming — resolve a directory
through the backend, so a stream can tail an ``s3://`` drop prefix the same
way it tails a local directory (the reference's add_chunk-from-object-store
story, reducer.rb:34-42, for the streaming face).

The local backend (plain paths and ``file://`` URIs; NFS mounts count — a
mounted path IS shared storage) ships here. An object-store deployment
registers its client at session start::

    register_storage_backend("s3", MyS3Backend())   # e.g. boto3-based

``put_file_atomic`` maps naturally onto object stores: a single PUT (or
completed multipart upload) is atomic — the object is invisible until
complete — which is exactly the publish semantics the local backend gets
from write-hidden-then-rename.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*):")


def _attempt_tmp_name(name: str) -> str:
    """A per-attempt staging name: unique per (pid, uuid) so concurrent
    attempts of the same partition file (task retry, speculative execution)
    never race on a shared tmp path. Dot-prefixed so chunk readers' listing
    filters never see it."""
    return f".{name}.{os.getpid()}.{uuid.uuid4().hex[:8]}.tmp"


def uri_scheme(uri: str) -> str:
    """'' for plain local paths; 's3' for s3://..., 'dbfs' for dbfs:/..."""
    m = _SCHEME_RE.match(uri)
    return m.group(1).lower() if m else ""


def join_uri(base: str, name: str) -> str:
    return base.rstrip("/") + "/" + name


class LocalStorage:
    """Plain paths and file:// URIs on a locally-mounted filesystem."""

    @staticmethod
    def _p(uri: str) -> str:
        return uri[len("file://"):] if uri.startswith("file://") else uri

    def makedirs(self, uri: str) -> None:
        os.makedirs(self._p(uri), exist_ok=True)

    def exists(self, uri: str) -> bool:
        return os.path.exists(self._p(uri))

    def read_text(self, uri: str) -> str:
        with open(self._p(uri), encoding="utf-8") as f:
            return f.read()

    def write_text_atomic(self, uri: str, text: str) -> None:
        path = self._p(uri)
        tmp = os.path.join(
            os.path.dirname(path) or ".", _attempt_tmp_name(os.path.basename(path))
        )
        try:
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(text)
            os.replace(tmp, path)
        finally:
            # per-attempt tmp names are never reused, so a failed attempt
            # must reclaim its own staging file or it litters forever
            if os.path.exists(tmp):
                os.unlink(tmp)

    def delete(self, uri: str) -> None:
        """Optional operation (used by the writer's abort cleanup)."""
        p = self._p(uri)
        if os.path.exists(p):
            os.unlink(p)

    def list(self, uri: str) -> list[str]:
        """Direct child file names, sorted (no filtering — the reader owns
        the '_'/'.'-prefix skip rule so every backend lists identically)."""
        p = self._p(uri)
        if not os.path.isdir(p):
            return []
        return sorted(
            n for n in os.listdir(p) if os.path.isfile(os.path.join(p, n))
        )

    def put_file_atomic(self, local_path: str, uri: str) -> None:
        # land under a '.'-prefixed, per-attempt-unique temp name (invisible
        # to the chunk readers' listing filters, and never shared between
        # concurrent attempts — shutil.move's cross-filesystem branch is
        # copy+unlink, so a shared tmp path could publish a half-copied
        # file), then os.replace within the destination directory: a
        # concurrent tailer can never observe a partial file
        dst = self._p(uri)
        tmp = os.path.join(
            os.path.dirname(dst) or ".", _attempt_tmp_name(os.path.basename(dst))
        )
        try:
            shutil.move(local_path, tmp)  # rename same-fs, copy+unlink across
            os.replace(tmp, dst)
        finally:
            # a failed attempt reclaims its own unique staging file (no
            # later attempt reuses the name, so nothing else ever will)
            if os.path.exists(tmp):
                os.unlink(tmp)


class PrefixMappedStorage(LocalStorage):
    """A backend that maps ``scheme://rest`` onto ``<root>/rest`` on a
    locally-reachable filesystem, exercising the FULL object-store dispatch
    path (scheme resolution, driver-side registration, pickling into the
    executor-side writer, atomic publish) without a real object store —
    the test double for an s3/gcs backend, and a usable backend in its own
    right for a mounted bucket (s3fs/goofys-style mounts)."""

    def __init__(self, scheme: str, root: str):
        self.scheme = scheme.lower()
        self.root = root

    def _p(self, uri: str) -> str:  # type: ignore[override]
        prefix = f"{self.scheme}://"
        if not uri.lower().startswith(prefix):
            raise ValueError(f"{uri!r} is not a {prefix} URI")
        return os.path.join(self.root, uri[len(prefix):])


class S3Storage:
    """Concrete S3 backend for the chunk handoff — the reference's actual
    deployment story (reference README.md:60-67,78-84: mappers upload their
    partition files to S3, reducers download them) made turnkey.

    Built on boto3. The live client is NEVER pickled: ``__reduce__`` ships
    only the constructor arguments, and each worker process reconnects
    lazily on first use (exactly the lazy-reconnect wrapper the module
    docstring prescribes for object-store clients). Atomicity comes from
    S3 itself: a single PUT / completed multipart upload is all-or-nothing
    and the key is invisible until complete, so ``put_file_atomic`` and
    ``write_text_atomic`` need no tmp-and-rename dance.

    ``client_factory`` (optional, must be cloudpickle-able) overrides boto3
    client construction — tests inject a file-backed double implementing
    the same five client calls (head_object/get_object/put_object/
    upload_file/delete_object), which exercises every S3Storage code path
    end-to-end without network or credentials.
    """

    def __init__(self, region_name: str | None = None,
                 endpoint_url: str | None = None, client_factory=None):
        self.region_name = region_name
        self.endpoint_url = endpoint_url
        self._client_factory = client_factory
        self._client = None  # lazy; never crosses a pickle boundary

    def __reduce__(self):
        return (
            S3Storage,
            (self.region_name, self.endpoint_url, self._client_factory),
        )

    def _c(self):
        if self._client is None:
            if self._client_factory is not None:
                self._client = self._client_factory()
            else:
                try:
                    import boto3  # deferred: only needed at first S3 call
                except ImportError as e:  # pragma: no cover - env dependent
                    raise ImportError(
                        "S3Storage needs boto3 at the point of first use "
                        "(pip install boto3), or pass client_factory="
                    ) from e
                self._client = boto3.client(
                    "s3",
                    region_name=self.region_name,
                    endpoint_url=self.endpoint_url,
                )
        return self._client

    @staticmethod
    def _bk(uri: str, allow_root: bool = False) -> tuple[str, str]:
        if not uri.lower().startswith("s3://"):
            raise ValueError(f"{uri!r} is not an s3:// URI")
        rest = uri[len("s3://"):]
        bucket, _, key = rest.partition("/")
        # object ops need a key; list() may target the bucket root (empty
        # key -> top-level prefix '')
        if not bucket or (not key and not allow_root):
            raise ValueError(f"{uri!r} must be s3://bucket/key")
        return bucket, key

    def makedirs(self, uri: str) -> None:
        pass  # object stores have no directories; keys imply their prefix

    def exists(self, uri: str) -> bool:
        bucket, key = self._bk(uri)
        try:
            self._c().head_object(Bucket=bucket, Key=key)
            return True
        except FileNotFoundError:
            return False  # the injected double's missing-key signal
        except Exception as e:
            # ONLY a definite not-found maps to False. Credential, network,
            # throttling, and import errors must propagate: exists() gates
            # the one-generation-per-directory guards, and reading such a
            # failure as "key absent" would wave an overwrite through —
            # the exact stale-chunk corruption those guards exist to stop.
            if self._is_not_found(e):
                return False
            raise

    @staticmethod
    def _is_not_found(e: Exception) -> bool:
        """True iff ``e`` is botocore's 404/NoSuchKey ClientError shape
        (checked structurally so the double and boto3-less envs need no
        botocore import)."""
        resp = getattr(e, "response", None)
        if not isinstance(resp, dict):
            return False
        code = str(resp.get("Error", {}).get("Code", ""))
        status = resp.get("ResponseMetadata", {}).get("HTTPStatusCode")
        return code in ("404", "NoSuchKey", "NotFound") or status == 404

    def read_text(self, uri: str) -> str:
        bucket, key = self._bk(uri)
        return self._c().get_object(Bucket=bucket, Key=key)["Body"].read().decode(
            "utf-8"
        )

    def write_text_atomic(self, uri: str, text: str) -> None:
        bucket, key = self._bk(uri)
        # single PUT: the object is invisible until the upload completes
        self._c().put_object(Bucket=bucket, Key=key, Body=text.encode("utf-8"))

    def put_file_atomic(self, local_path: str, uri: str) -> None:
        bucket, key = self._bk(uri)
        # boto3's managed transfer: single PUT for small files, multipart
        # for large ones — either way the key appears only on completion
        self._c().upload_file(local_path, bucket, key)
        os.unlink(local_path)  # match LocalStorage's move-away contract

    def delete(self, uri: str) -> None:
        bucket, key = self._bk(uri)
        self._c().delete_object(Bucket=bucket, Key=key)

    def list(self, uri: str) -> list[str]:
        """Direct child object names under the prefix (Delimiter='/'), via
        paginated ListObjectsV2 — the object-store face of a directory
        listing. Names are returned relative to the prefix, sorted, so the
        chunk readers treat every backend identically."""
        bucket, key = self._bk(uri.rstrip("/"), allow_root=True)
        # bucket-root URIs (s3://bucket) resolve to an empty key; the prefix
        # must then be '' (top-level objects), not '/' (matches nothing)
        prefix = key + "/" if key else ""
        names: list[str] = []
        token = None
        while True:
            kw = {"Bucket": bucket, "Prefix": prefix, "Delimiter": "/"}
            if token:
                kw["ContinuationToken"] = token
            resp = self._c().list_objects_v2(**kw)
            for obj in resp.get("Contents", []):
                name = obj["Key"][len(prefix):]
                if name:  # skip the prefix marker object itself
                    names.append(name)
            if not resp.get("IsTruncated"):
                break
            token = resp.get("NextContinuationToken")
        return sorted(names)


class S3FileClientDouble:
    """A file-backed double of the narrow boto3 client surface ``S3Storage``
    uses (head_object/get_object/put_object/upload_file/delete_object),
    storing each object at ``<root>/<bucket>/<key>``. Injected via
    ``S3Storage(client_factory=functools.partial(S3FileClientDouble, root))``
    it lets tests and the boto3-less example drive every REAL S3Storage
    code path — URI parsing, lazy reconnection on the worker, single-PUT
    publish, manifest read-back — without network, credentials, or boto3
    installed. put_object mirrors S3's all-or-nothing visibility (readers
    never observe a partial object)."""

    def __init__(self, root: str):
        self.root = root

    def _p(self, bucket: str, key: str) -> str:
        return os.path.join(self.root, bucket, key)

    def head_object(self, Bucket: str, Key: str) -> dict:
        if not os.path.isfile(self._p(Bucket, Key)):
            raise FileNotFoundError(f"404: s3://{Bucket}/{Key}")
        return {}

    def get_object(self, Bucket: str, Key: str) -> dict:
        import io

        with open(self._p(Bucket, Key), "rb") as f:
            return {"Body": io.BytesIO(f.read())}

    def put_object(self, Bucket: str, Key: str, Body) -> None:
        dst = self._p(Bucket, Key)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = os.path.join(
            os.path.dirname(dst), _attempt_tmp_name(os.path.basename(dst))
        )
        data = Body if isinstance(Body, (bytes, bytearray)) else Body.read()
        try:
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, dst)  # mirror a PUT's all-or-nothing visibility
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def upload_file(self, Filename: str, Bucket: str, Key: str) -> None:
        with open(Filename, "rb") as f:
            self.put_object(Bucket=Bucket, Key=Key, Body=f.read())

    def delete_object(self, Bucket: str, Key: str) -> None:
        p = self._p(Bucket, Key)
        if os.path.isfile(p):
            os.unlink(p)

    def list_objects_v2(self, Bucket: str, Prefix: str = "", Delimiter: str = "/",
                        ContinuationToken: str | None = None) -> dict:
        """Direct children of the prefix, ListObjectsV2 response shape
        (single page — IsTruncated False — which also exercises the
        pagination loop's terminal branch)."""
        d = self._p(Bucket, Prefix)
        contents = []
        if os.path.isdir(d):
            for n in sorted(os.listdir(d)):
                if os.path.isfile(os.path.join(d, n)):
                    contents.append({"Key": Prefix + n})
        return {"Contents": contents, "IsTruncated": False}


_BACKENDS: dict[str, object] = {
    "": LocalStorage(),
    "file": LocalStorage(),
    # registered eagerly but connects lazily: no boto3 import (and no
    # credentials) until the first s3:// chunk-handoff call actually runs
    "s3": S3Storage(),
}


def register_storage_backend(scheme: str, backend: object) -> None:
    """Make ``scheme://`` URIs usable by the chunk handoff. The backend
    object must provide the five operations in the module docstring and be
    PICKLABLE: registration happens on the driver only —
    ``Job.shuffle_to_files`` resolves the backend here and ships it to its
    tasks inside their closure (a ``df.write.format("mr_chunks")`` caller
    passes it as the ``backend_pickle`` option, see pickle_backend), so no
    other process ever needs registry setup (an s3 client wrapper
    implements ``__reduce__`` to reconnect lazily on the worker)."""
    _BACKENDS[scheme.lower()] = backend


def pickle_backend(backend: object) -> str:
    """Serialize a backend for transport inside DataSource options (which
    are string-only). PySpark 4 initializes Python data source writers in
    a SEPARATE Python worker process, so a driver-side registry is not
    visible there — the resolved backend rides along as a cloudpickle
    blob instead, and no process beyond the driver ever needs
    register_storage_backend to have run."""
    import base64

    from pyspark import cloudpickle

    return base64.b64encode(cloudpickle.dumps(backend)).decode("ascii")


def unpickle_backend(blob: str) -> object:
    import base64

    from pyspark import cloudpickle

    return cloudpickle.loads(base64.b64decode(blob.encode("ascii")))


def storage_for(uri: str):
    scheme = uri_scheme(uri)
    backend = _BACKENDS.get(scheme)
    if backend is None:
        raise ValueError(
            f"no storage backend registered for scheme {scheme!r} "
            f"(path {uri!r}); register one with "
            "map_reduce_ruby_spark.sources.storage.register_storage_backend"
            "(scheme, backend) — any object with makedirs/exists/read_text/"
            "write_text_atomic/put_file_atomic (e.g. a boto3 wrapper for s3)"
        )
    return backend

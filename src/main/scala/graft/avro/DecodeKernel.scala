package graft.avro

import java.io.IOException

import org.apache.avro.AvroRuntimeException

/** Per-record decode kernel behind the native Catalyst expression
  * `graft.plans.AvroDecodeEnvelope`: the one implementation of the
  * reference semantics.
  */
object DecodeKernel {

  def isDecodeFailure(t: Throwable): Boolean = t match {
    case _: IOException => true // reference catches IOException (`:149`,`:188`)
    case _: AvroRuntimeException => true // Avro 1.12 wraps malformed input
    case _: ArrayIndexOutOfBoundsException => true // malformed varint index
    case _ => false
  }

  /** VALUE-side: header check → schema lookup → one transcoder pass that
    * writes the value envelope, reading the body in place. Permissive mode
    * forwards original bytes on decode failure (`AvroTransform.java:188-191`);
    * wire violations always throw (`:173-177`). Null-safe at the caller. */
  def decodeValue(bytes: Array[Byte], state: AvroDecoderState,
      permissive: Boolean): Array[Byte] = {
    val id = WireFormat.schemaId(bytes)
    val cached = state.cachedSchema(id)
    try cached.transcoder.valueEnvelope(bytes, WireFormat.HeaderLen,
      cached.envelopePrefix, id)
    catch {
      case t: Throwable if permissive && isDecodeFailure(t) =>
        state.swallowedErrors.increment()
        bytes
    }
  }

  /** KEY-side: fields inlined + originSchema injected
    * (`AvroTransform.java:224-229`); `strip=false` reproduces the
    * unstripped-key reference bug (`:148`, SURVEY.md §7.4) by decoding from
    * the header's first byte. */
  def decodeKey(bytes: Array[Byte], state: AvroDecoderState,
      permissive: Boolean, strip: Boolean): Array[Byte] = {
    val id = WireFormat.schemaId(bytes)
    val cached = state.cachedSchema(id)
    try cached.transcoder.keyEnvelope(bytes,
      if (strip) WireFormat.HeaderLen else 0, cached.envelopePrefix)
    catch {
      case t: Throwable if permissive && isDecodeFailure(t) =>
        state.swallowedErrors.increment()
        bytes
    }
  }
}
